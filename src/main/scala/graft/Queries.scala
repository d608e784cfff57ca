package graft

import graft.core.{Catalog, ParquetFooter}
import graft.core.Scratch.{deleteRecursively, dirSlug, scratch}
import graft.operators._
import graft.stats.TableStats

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's query surface: every operator family from SURVEY.md §2
  * plus the north-star pipeline operators, each a
  * (SparkSession, sfDir) => DataFrame registered in [[specs]] with the
  * DuckDB SQL that states its result.
  *
  * Float discipline for oracle parity: monetary doubles are converted to
  * integer cents at the source (`round(x*100)::BIGINT` — a single IEEE
  * multiply + round, bit-identical in both engines), so every aggregate
  * is exact integer math. Derived ratios divide exact integers in the
  * same order on both sides, giving bit-identical doubles.
  */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(s, dir, name)

  /** round(x*100) as long — exact-cents conversion.
    *
    * Oracle-side type discipline: every DuckDB sum (plain OR windowed) that
    * reaches an output column must be wrapped in CAST(... AS BIGINT).
    * DuckDB widens sum(BIGINT) to HUGEINT, which pandas materializes as
    * float64, so a type-sensitive hash sees 4.0 vs Spark's int64 4 even
    * when values match (bit us twice: q36 round 1, q83 round 4).
    */
  private def cents(c: Column): Column = round(c * lit(100)).cast("long")
  private def centsSql(e: String): String = s"CAST(round(($e)*100) AS BIGINT)"

  /** The corpus quality score (q24/q97/q109 share it — one definition,
    * mirrored by [[qualitySql]]): length saturation + stopword ratio,
    * equally weighted.
    */
  private def qualityExpr(nTokens: Column, stopCount: Column): Column =
    least(nTokens.cast("double") / lit(64.0), lit(1.0)) * lit(0.5) +
      (stopCount.cast("double") / nTokens) * lit(0.5)

  // ---------------------------------------------------------------- core

  def q01_scan(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_returnflag")

  def q02_filter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .where(col("l_quantity") < 24 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_quantity")

  def q03_project_expr(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      cents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue_c"),
      cents(col("l_extendedprice") * col("l_tax")).as("tax_c"))

  def q04_agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(cents(col("l_quantity"))).as("sum_qty_c"),
        sum(cents(col("l_extendedprice"))).as("sum_base_c"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_c"),
        min(cents(col("l_extendedprice"))).as("min_price_c"),
        max(cents(col("l_extendedprice"))).as("max_price_c"),
        count(lit(1)).as("n"))

  /** Flagship: the reference's OrderJoinsTest shape on TPC-H-ish tables,
    * authored as a plain filtered join chain. In a session built by
    * `Catalog.newSession` the Selinger rule ([[plans.SelingerJoinReorder]])
    * picks its join order from the registered stats, like every other
    * chain; Catalyst pushes the filter to the parquet scan.
    */
  def q05_join_opt(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").where(col("l_quantity") < 24)
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").agg(
        count(lit(1)).as("n"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_c"))
  }

  def q06_theta_join(s: SparkSession, dir: String): DataFrame = {
    val r = t(s, dir, "region")
    val a = r.select(col("r_regionkey").as("k1"), col("r_name").as("r1"))
    val b = r.select(col("r_regionkey").as("k2"), col("r_name").as("r2"))
    a.join(b, col("k1") < col("k2")).select("r1", "r2")
  }

  /** Anti join with a LIVE population at every SF: customers with no
    * order above 400k (anti: 20 / 202 / 1997 rows at sf0.001/0.01/0.1,
    * semi complement also live). The original unfiltered form —
    * customers with no orders AT ALL — was vacuously empty on this
    * corpus (every customer has orders), so the gate compared empty to
    * empty and a broken anti join returning nothing would have passed
    * (the q153 vacuous-gate class, found by a round-10 empty-result
    * audit).
    */
  def q07_anti_join(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").where(col("o_totalprice") > 400000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti").select("c_custkey")
  }

  def q08_semi_join(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").where(col("o_totalprice") > 200000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi").select("c_custkey")
  }

  def q09_distinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select("c_mktsegment", "c_nationkey").distinct()

  def q10_window(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "rn")
  }

  def q11_topk(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  def q12_intersect(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k"))
    val o = t(s, dir, "orders").select(col("o_custkey").as("k"))
    c.intersect(o)
  }

  /** EXCEPT with BOTH sides of the subtraction live at every SF:
    * BUILDING customers minus high-value-order customers keeps 3 / 36 /
    * 371 rows at sf0.001/0.01/0.1 while removing most of the left side
    * (so the subtraction itself is exercised). The original unfiltered
    * form — all custkeys minus all order custkeys — was vacuously empty
    * (same audit as q07).
    */
  def q13_except(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k"))
    val o = t(s, dir, "orders").where(col("o_totalprice") > 400000)
      .select(col("o_custkey").as("k"))
    c.except(o)
  }

  def q14_rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))

  def q15_scalar_funcs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
      col("p_partkey"),
      upper(col("p_brand")).as("brand_u"),
      length(col("p_name")).cast("long").as("name_len"),
      substring(col("p_type"), 1, 5).as("type5"),
      concat(col("p_brand"), lit("#"), col("p_type")).as("bt"),
      abs(col("p_size") - lit(25)).as("size_dist"),
      (col("p_size") % 7).as("size_mod"))

  def q16_date_funcs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(
      col("o_orderkey"),
      year(col("o_orderdate")).cast("long").as("yr"),
      month(col("o_orderdate")).cast("long").as("mo"),
      dayofmonth(col("o_orderdate")).cast("long").as("dom"),
      date_trunc("month", col("o_orderdate")).as("month_start"))

  def q17_agg_derived(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        sum(cents(col("o_totalprice"))).as("sum_price_c"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))
      .withColumn("avg_price",
        col("sum_price_c").cast("double") / lit(100) / col("n"))

  /** Distributed equi-width histogram build (the TableStats module) made
    * visible as a query: bucket counts over part.p_size with the
    * reference's span formula.
    */
  def q18_histogram(s: SparkSession, dir: String): DataFrame = {
    // only p_size is read — don't pay a per-partition buffer for every
    // integral column of part
    val stats = TableStats.build(t(s, dir, "part"), columns = Some(Seq("p_size")))
    val h = stats.histogram("p_size")
    val rows = h.bucketCounts.zipWithIndex.collect {
      case (c, b) if c > 0 => (b.toLong, c)
    }
    import s.implicits._
    rows.toDF("bucket", "cnt")
  }

  // ------------------------------------------------------ pipeline: text

  def q20_dedup_exact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir, "documents"), "doc_id", Seq("text"))

  def q21_dedup_tokenset(s: SparkSession, dir: String): DataFrame =
    Dedup.tokenSet(t(s, dir, "documents"), "doc_id", "text")

  /** Benchmark decontamination (3-gram overlap): docs 0-19 stand in for
    * an eval set; every other document reporting ≥ 1 shared shingle is
    * flagged with its overlap count. Benchmark set broadcast, corpus
    * streamed — the 100 TB-shaped plan.
    */
  def q67_decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.decontaminate(
      docs.where(col("doc_id") >= 20), docs.where(col("doc_id") < 20),
      "doc_id", "text", shingleWidth = 3)
  }

  /** Intra-document repetition (Gopher-style quality rule): the fraction
    * of a doc's word 3-grams that are duplicates. Distinct count comes
    * from the native WordShingles expression; totals from token count.
    * Numerator/denominator emitted as exact integers; the fraction
    * divides the same integers both sides for bit parity.
    */
  def q68_repetition(s: SparkSession, dir: String): DataFrame = {
    val toks = size(split(col("text"), " "))
    val total = when(toks >= 3, toks - 2).otherwise(lit(1)).cast("long")
    val dist = size(Dedup.shingles(col("text"), 3)).cast("long")
    t(s, dir, "documents").select(
      col("doc_id"), total.as("n_grams"), dist.as("n_distinct"),
      ((total - dist).cast("double") / total.cast("double")).as("rep_frac"))
  }

  /** Staged so tokenCount / stopword-sum are computed once per row;
    * collapsed into one projection they'd be inlined ~9x, and the
    * resulting codegen blob takes seconds to JIT-compile.
    */
  def q22_token_stats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        (length(col("text")) - col("n_tokens") + 1).cast("double")
          ./(col("n_tokens")).as("mean_tok_len"),
        (TextAnalysis.stopwordCount(col("text")).cast("double") / col("n_tokens"))
          .as("stop_ratio"))

  /** Whitespace vs BPE-ish token counts side by side: the synthetic text
    * is space-separated words, so a deterministic digit/punctuation
    * suffix is appended to make the two tokenizations genuinely diverge
    * (digits count one token each, marks separate from words).
    */
  def q93_bpeish_tokens(s: SparkSession, dir: String): DataFrame = {
    val aug = concat(col("text"), lit(" v"),
      (col("doc_id") % 100).cast("string"), lit(".x!"))
    t(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.tokenCount(aug).as("n_ws"),
      TextAnalysis.bpeishTokenCount(aug).as("n_bpe"))
  }

  def q23_lang_id(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"), col("lang"),
      TextAnalysis.langId(col("text")).as("lang_pred"))

  def q24_quality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("__tc"),
        TextAnalysis.stopwordCount(col("text")).as("__sc"))
      .select(col("doc_id"),
        qualityExpr(col("__tc"), col("__sc")).as("quality"))

  def q25_fingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"))

  // ----------------------------------------------- pipeline: dedup (LSH)

  /** MinHash-LSH recall invariant, oracle-checked: exact n-gram-Jaccard
    * pairs at the banding threshold (capped id range, like q29),
    * SEMI-joined against the LSH candidate set. MinHash signatures are
    * deterministic (fixed seeds), so this equals the full exact pair set
    * iff banding (64 hashes, 32 bands of 2 rows: P(candidate | j=0.5) =
    * 1-(1-0.25)^32 ≈ 0.9999) surfaced every true pair — which the DuckDB
    * oracle states declaratively as the plain exact-pairs query. A
    * banding bug now FAILS the gate instead of shrinking a trusted
    * rows-only count.
    */
  def q26_minhash(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").where(col("doc_id") < 200)
    val candidates = Dedup.minHashCandidates(docs, "doc_id", "text",
      numHashes = 64, bands = 32, shingleWidth = 3)
    Dedup.ngramJaccardPairs(docs, "doc_id", "text", shingleWidth = 3,
      threshold = 0.5, bruteForce = true)
      .join(candidates, Seq("id_a", "id_b"), "left_semi")
  }

  /** SimHash pigeonhole invariant, oracle-checked: the banded path
    * (Dedup.simHashPairs: signature chunks → bucket join → bit_count
    * verify) must produce EXACTLY the brute-force all-pairs
    * Hamming-≤-maxDist set — pigeonhole guarantees any pair within
    * distance d agrees on one of d+1 chunks, so unlike MinHash this
    * equality is a mathematical identity, not a recall bet. The query
    * emits the symmetric difference of the two forms over a capped id
    * range; the oracle states it is empty (SimHash itself is not
    * SQL-expressible, but "no disagreement" is).
    */
  def q27_simhash(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").where(col("doc_id") < 500)
    val banded = Dedup.simHashPairs(docs, "doc_id", "text", maxDist = 3)
    val sigs = docs.select(col("doc_id").as("__id"),
      Dedup.simHash(col("text")).as("__sim"))
    val brute = sigs.select(col("__id").as("id_a"), col("__sim").as("sim_a"))
      .crossJoin(sigs.select(col("__id").as("id_b"), col("__sim").as("sim_b")))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long").as("hamming"))
      .where(col("hamming") <= 3)
    banded.exceptAll(brute).unionAll(brute.exceptAll(banded))
  }

  /** Embedding near-dup pairs, exact form over a capped id range so the
    * DuckDB oracle can replicate it pair-for-pair (the LSH-bucketed
    * production path is covered by OperatorsSpec; its candidate recall is
    * probabilistic and so not hash-comparable).
    */
  def q28_embed_neardup(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").where(col("vec_id") < 500)
    // norms per ROW, not per pair: the threshold filter pushes into the
    // join condition, so every per-pair subexpression there runs for all
    // n²/2 pairs — with inline norm(va)*norm(vb) the condition cost was
    // THREE dot products per pair (measured 2x the whole query). Same
    // arithmetic bit-for-bit (sqrt of the same per-row dot, same product,
    // same try_divide), so the oracle hash is unchanged.
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"),
      Similarity.norm(col("embedding")).as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
      Similarity.norm(col("embedding")).as("nb"))
    def cosine = try_divide(Similarity.dot(col("va"), col("vb")),
      col("na") * col("nb"))
    // threshold INSIDE the join condition, AFTER the id test: as
    // CURRENTLY OBSERVED (Spark 4.1 codegen), authored conjunct order
    // survives into the generated predicate, so the cheap id_a < id_b
    // short-circuits the dot product for the mirrored half of the id
    // square (a trailing .where() was measured pushed-and-PREPENDED,
    // evaluating the dot for all n² ordered pairs — r11 bisect 522→384
    // ms). Catalyst gives NO evaluation-order guarantee for join
    // predicates, so this is a perf observation that could regress
    // across Spark versions, not a contract; correctness is unaffected
    // either way (the conjunction is symmetric).
    a.join(b, col("id_a") < col("id_b") && cosine >= 0.45)
      .select(col("id_a"), col("id_b"), cosine.as("cosine"))
  }

  /** A SECOND duplicate-evidence graph through the same clustering
    * machinery: q28's exact cosine near-dup pairs as edges,
    * [[Graph.componentsFor]] over the capped vec set — the embedding
    * analogue of q98's blocking-key clusters (pipeline stage: merge
    * semantic near-dups, keep the min-id canonical). The oracle replays
    * the transitive closure with a recursive CTE over the identical
    * pair predicate (cosine SQL bit-parity proven by q28's gate).
    */
  def q128_embed_clusters(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").where(col("vec_id") < 500)
    Graph.componentsFor(e, "vec_id", q28_embed_neardup(s, dir), "id_a", "id_b")
      .select(col("id").as("vec_id"), col("component"),
        (col("id") === col("component")).cast("long").as("is_canonical"))
  }

  /** Exact n-gram Jaccard pairs (brute-force verification form over a
    * capped id range so the DuckDB oracle can replicate it; the
    * production path uses LSH candidates — see Dedup.ngramJaccardPairs).
    */
  def q29_ngram_jaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(
      t(s, dir, "documents").where(col("doc_id") < 200),
      "doc_id", "text", shingleWidth = 3, threshold = 0.3, bruteForce = true)

  /** One-sided shingle CONTAINMENT — the asymmetric dedup rule that
    * catches quotes/subsets symmetric Jaccard misses: C(A,B) =
    * |A∩B| / |A| ≥ 0.6 means most of A's shingles appear in B even if
    * B is much longer (Jaccard divides by the union and stays small).
    * Brute-force verification form over the q28-style id cap (500 — populated at every SF); the exact
    * containment ratio is an integer-cardinality quotient, so both
    * engines compute it bit-identically. Production path:
    * [[Dedup.containmentPairs]] (prefix-filtered asymmetric blocking,
    * exact recall) — gated UNCAPPED by q231; this query stays as the
    * independent brute-force verification form.
    */
  def q130_containment(s: SparkSession, dir: String): DataFrame = {
    // array_sort once per ROW (500 rows) buys the allocation-free sorted
    // two-pointer intersection count per PAIR (~250k pairs) — replacing
    // array_intersect's per-pair hash set + output array; the count over
    // distinct sets is identical, so `containment` is bit-for-bit the
    // same (r17, guide §1.2 per-task work / §5 allocation rate)
    val docs = t(s, dir, "documents").where(col("doc_id") < 500)
      .select(col("doc_id"),
        array_sort(Dedup.shingles(col("text"), 3)).as("__s")) // shingles are already distinct
    val a = docs.select(col("doc_id").as("id_a"), col("__s").as("sa"))
    val b = docs.select(col("doc_id").as("id_b"), col("__s").as("sb"))
    a.join(b, col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        (graft.functions.exprs.sortedIntersectCount(col("sa"), col("sb"))
          .cast("double") / size(col("sa"))).as("containment"))
      .where(col("containment") >= 0.6)
  }

  /** Robust outlier gate — median/MAD instead of mean/stddev (one wild
    * value cannot drag the threshold): per-priority order prices more
    * than 2 MADs from the median are flagged (totalprice is a bounded
    * sum — its max |dev|/MAD is ~2.05-2.23 across SFs, so 2 keeps the
    * gate populated at every scale while 3 would be vacuously empty;
    * production tunes the knob per distribution). Exact integer
    * cents + q91's bit-parity percentile make both medians and the
    * comparison reproducible cross-engine. Two grouped percentile
    * passes + one broadcast of #groups rows — the corpus never
    * shuffles twice.
    */
  def q131_mad_outliers(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        cents(col("o_totalprice")).as("price_c"))
    // Work on DOUBLED values so the deviation stays integer: the median
    // of integers is at worst a .5 midpoint, exactly representable once
    // doubled (2·med ≤ 1e8 ≪ 2^53) — every percentile input both here
    // and in the MAD pass is then BIGINT, the exact parity class q91
    // pins (quantile_cont == percentile bit-for-bit on integer input).
    val med = o.groupBy("o_orderpriority")
      .agg(round(expr("percentile(price_c, 0.5)") * 2).cast("long").as("__med_x2"))
    val mad = o.join(broadcast(med), "o_orderpriority")
      .groupBy("o_orderpriority")
      .agg(expr("percentile(abs(2*price_c - __med_x2), 0.5)").as("__mad_x2"),
        first(col("__med_x2")).as("__m2"))
    o.join(broadcast(mad), "o_orderpriority")
      .where(abs(col("price_c") * 2 - col("__m2")).cast("double") >
        lit(2.0) * col("__mad_x2"))
      .select(col("o_orderkey"), col("o_orderpriority"), col("price_c"))
  }

  // ------------------------------------------- pipeline: similarity/ANN

  def q30_knn_brute(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(
      e.where(col("vec_id") < 16), e, "vec_id", "vec_id", "embedding", k = 5)
      .withColumnRenamed("rank", "rnk")
  }

  /** IVF with nprobe = nlist probes every cell, so the result must equal
    * exact brute force — which is what the DuckDB oracle states. (The
    * approximate operating point is nprobe << nlist; its recall is
    * covered by OperatorsSpec.)
    */
  def q31_knn_ivf(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.ivfTopK(
      e.where(col("vec_id") < 16), e, "vec_id", "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 16,
      trainIters = 0) // probing every cell is exact regardless of centroids
      .withColumnRenamed("rank", "rnk")
  }

  /** IVF again but with the k-means training loop LIVE (2 Lloyd
    * iterations): nprobe = nlist keeps the result provably exact whatever
    * the centroids converge to, so the oracle (brute-force SQL) checks
    * that training ran without corrupting assignment/probing — the
    * training loop is no longer exercised only by unit tests. Centroid
    * QUALITY (recall at nprobe << nlist) is asserted by OperatorsSpec's
    * clustered-corpus test.
    */
  def q61_knn_ivf_trained(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.ivfTopK(
      e.where(col("vec_id") < 16), e, "vec_id", "vec_id", "embedding",
      k = 5, nlist = 8, nprobe = 8, trainIters = 2)
      .withColumnRenamed("rank", "rnk")
  }

  // -------------------------------------------------- events / temporal

  def q32_events_window(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_value_c"))

  def q33_asof_join(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select("event_id", "user_id", "ts")
    val o = t(s, dir, "orders")
    AsOfJoin(e, o, "user_id", "ts", "o_custkey", "o_orderdate",
      tieBreak = "o_orderkey", payloadCols = Seq("o_orderdate", "o_orderkey"))
      .where(col("o_orderkey").isNotNull)
      .select(col("event_id"), col("user_id"),
        col("o_orderdate").as("asof_date"), col("o_orderkey").as("asof_orderkey"))
  }

  /** Forward as-of join ([[AsOfJoin]] `direction = "forward"`) — the
    * attribution lookup: each click's NEXT purchase by the same user
    * (smallest purchase ts >= click ts, ties to the smallest event_id).
    * Same union + one-window shape as q33 with the scan time-reversed;
    * the oracle replays it as min-aggregations.
    */
  def q129_asof_forward(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.where(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_event"))
    AsOfJoin(clicks, purchases, "user_id", "ts", "p_user", "p_ts",
      tieBreak = "p_event", payloadCols = Seq("p_ts", "p_event"),
      direction = "forward")
      .where(col("p_event").isNotNull)
      .select(col("event_id"), col("user_id"),
        col("p_ts").as("next_purchase_ts"),
        col("p_event").as("next_purchase_id"))
  }

  def q34_sessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    t(s, dir, "events")
      .withColumn("pts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("pts").isNull ||
          (unix_micros(col("ts")) - unix_micros(col("pts"))) > 1800000000L, 1L)
          .otherwise(0L))
      .groupBy("user_id")
      .agg(sum(col("new_session")).as("n_sessions"))
  }

  def q36_json(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k_val"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("k_val")).as("sum_k"),
        max(col("k_val")).as("max_k"))

  /** Transaction layer end-to-end (SURVEY §2.19-20): two committed txns,
    * one aborted, one in-flight, a crash and a recovery; the surviving
    * snapshot must be exactly the two committed slices of `orders` — which
    * the DuckDB oracle states declaratively.
    */
  def q37_txn_visibility(s: SparkSession, dir: String): DataFrame = {
    // The txn tape (3 parquet batch writes) is deterministic per sfDir;
    // build it once PER PROCESS — in the process's scratch root, keyed
    // by the source path, so a fresh JVM always pays the full transaction
    // path (begin/insert/commit/abort/crash), later invocations in the
    // same process exercise the cold-open recovery path (a fresh TxnTable
    // re-deriving committed state from the durable log), no two processes
    // ever share a tape, and a regenerated dataset can't serve stale state
    // across runs. A marker written last makes partially-built dirs (crash
    // mid-build) detectable and rebuilt.
    val tmp = scratch("q37", dir)
    val root = java.nio.file.Paths.get(tmp)
    val marker = root.resolve("_graft_built")
    if (!java.nio.file.Files.exists(marker)) {
      deleteRecursively(root, strict = true)
      val orders = t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
      val table = new graft.txn.TxnTable(s, tmp)
      val t1 = table.txns.startTxn()
      table.insert(t1, orders.where(col("o_orderkey") % 3 === 0))
      table.txns.commitTxn(t1)
      val t2 = table.txns.startTxn()
      table.insert(t2, orders.where(col("o_orderkey") % 3 === 1)) // aborted
      table.txns.abortTxn(t2)
      val t3 = table.txns.startTxn()
      table.insert(t3, orders.where(col("o_orderkey") % 3 === 2)) // never commits
      table.crash()
      java.nio.file.Files.createFile(marker)
    }
    // cold open = crash recovery: only t1's batches are visible
    new graft.txn.TxnTable(s, tmp).read()
  }

  /** Time-travel read of the transaction layer ([[graft.txn.TxnTable
    * .readAsOf]]): a tape with TWO committed slices (t1: keys %3==0,
    * t2: %3==1) and one aborted (t3), read AS OF t1's commit — the
    * snapshot must be exactly t1's slice even though the current
    * committed state also holds t2's. Immutability makes the historical
    * snapshot a tape-prefix fold over the same parquet batches (zero
    * data copies — the table-format time-travel design); the oracle
    * states t1's slice declaratively. Same per-process tape-caching
    * discipline as q37 (marker file, pid + dir key); later invocations
    * exercise the cold-open recovery path.
    */
  def q126_txn_timetravel(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("q126", dir)
    val root = java.nio.file.Paths.get(tmp)
    val marker = root.resolve("_graft_built")
    if (!java.nio.file.Files.exists(marker)) {
      deleteRecursively(root, strict = true)
      val orders = t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
      val table = new graft.txn.TxnTable(s, tmp)
      val t1 = table.txns.startTxn()
      table.insert(t1, orders.where(col("o_orderkey") % 3 === 0))
      table.txns.commitTxn(t1)
      val t2 = table.txns.startTxn()
      table.insert(t2, orders.where(col("o_orderkey") % 3 === 1))
      table.txns.commitTxn(t2) // in the CURRENT state, not the t1 snapshot
      val t3 = table.txns.startTxn()
      table.insert(t3, orders.where(col("o_orderkey") % 3 === 2))
      table.txns.abortTxn(t3)
      java.nio.file.Files.createFile(marker)
    }
    // t1 is always txn id 1 on a fresh tape (monotonic from 1)
    new graft.txn.TxnTable(s, tmp).readAsOf(1L)
  }

  /** The file-stream copy of `events` shared by the streaming queries
    * (q38/q62/q63/q64): the file source needs a directory, and
    * re-materializing the table per invocation would dominate every
    * streaming query's cost. Keyed by process + source path (same
    * discipline as the q37 txn tape): one write per process, never
    * shared across processes, never stale across dataset regenerations.
    */
  /** Engine-startup staging hook for harness runners (Bench warmup):
    * materializes the stream source directory so the first streaming
    * query measures the operator, not input staging. A production
    * stream reads an existing directory.
    */
  def stageStreamSource(s: SparkSession, dir: String): Unit =
    eventsStreamDir(s, dir)

  /** Staging hook for q162's day-partitioned fact layout (same
    * contract as [[stageStreamSource]]): build it once per process in
    * warmup so the DPP query measures the pruned join, not the layout
    * write. Lazy in-query fallback keeps Verify correct without the
    * hook; the pid in the path keeps concurrent sessions (verify +
    * bench over the same SF dir) from racing one another's overwrite.
    */
  def stageDppLayout(s: SparkSession, dir: String): Unit =
    dppFactDir(s, dir)

  /** Staging hooks for the multi-trigger stream tapes (q237's
    * late-replay tape, q238's session-straggler tape) — the same
    * input-plumbing contract as [[stageStreamSource]]/[[stageDppLayout]]
    * and the r13 txn-tape fix: a production stream reads an EXISTING
    * tape, so the bench preamble builds each once per process and the
    * stream queries measure trigger execution, not tape construction
    * (the cutoff aggregation + three slice writes + mtime stamping ran
    * inside the first timed invocation before — r16 optimization
    * round). Lazy in-query fallback keeps Verify and ad-hoc callers
    * correct without the hook.
    */
  def stageLateReplayTape(s: SparkSession, dir: String): Unit =
    lateReplayStreamDir(s, dir)

  def stageSessionStragglerTape(s: SparkSession, dir: String): Unit =
    sessionStragglerStreamDir(s, dir)

  private def dppFactDir(s: SparkSession, dir: String): String = {
    val path = scratch("dpp-fact", dir)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/_SUCCESS")))
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), cents(col("value")).as("v"),
          to_date(col("ts")).as("d"))
        .write.mode("overwrite").partitionBy("d").parquet(path)
    path
  }

  private[graft] def eventsStreamDir(s: SparkSession, dir: String): String = {
    val streamDir = scratch("stream-src", dir)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$streamDir/_SUCCESS")))
      t(s, dir, "events").repartition(4).write.mode("overwrite").parquet(streamDir)
    streamDir
  }

  /** q237's three-trigger staging: a deterministic late-arrival tape.
    *   - File 1 (trigger 0, the ON-TIME BULK) = events with
    *     ts ≤ max(ts) − 5 days, event_id % 5 ≠ 0 and % 7 ≠ 0. Its max
    *     ts sets the watermark every later row is judged against.
    *   - File 2 (trigger 1, the CARRIER) = the on-time % 7 == 0 slice:
    *     a second data trigger whose only job is to put one batch
    *     between the bulk and the late file, because Spark's late-event
    *     filter uses the watermark PREVIOUS to the current batch's
    *     update (SPARK-40925, pinned by WmProbeSpec) — with only two
    *     triggers the late file would arrive while that value is still
    *     the initial 0 and nothing would ever drop.
    *   - File 3 (trigger 2) = the TAIL (ts past the cutoff) plus the
    *     LATE REPLAY — every event_id % 5 == 0 row at or before the
    *     cutoff: rows arriving two full triggers behind their event
    *     time, exactly the population watermark semantics adjudicate.
    * All three populations are SQL-expressible, so the DuckDB oracle
    * can replay the per-trigger watermark arithmetic. Explicit mtimes
    * (2 minutes apart) pin the file source's modification-time listing
    * order, making trigger assignment deterministic; same per-process
    * staging contract as [[eventsStreamDir]].
    */
  private def lateReplayStreamDir(s: SparkSession, dir: String): String = {
    val path = scratch("stream-late", dir)
    val root = java.nio.file.Paths.get(path)
    val marker = root.resolve("_graft_staged")
    if (!java.nio.file.Files.exists(marker)) {
      val ev = t(s, dir, "events")
      // cutoff computed IN-ENGINE (µs-exact interval arithmetic on the
      // driver would need nanos plumbing); one scalar to the driver
      val cutoff = ev
        .agg((max(col("ts")) - expr("INTERVAL 5 DAYS")).as("c"))
        .first().getTimestamp(0)
      val onTime = col("ts") <= lit(cutoff) && col("event_id") % 5 =!= 0
      import scala.jdk.CollectionConverters._
      def parts(): Set[java.nio.file.Path] =
        scala.util.Using.resource(java.nio.file.Files.list(root)) { st =>
          st.iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet")).toSet
        }
      // Every slice must land at least one part file: an empty slice
      // (possible in principle at a tiny/degenerate SF) writes NO
      // parquet part, collapsing the tape to fewer triggers — the
      // oracle's previous-batch-watermark arithmetic then no longer
      // models the run and the gate would fail as a confusing bag
      // mismatch. Fail BY NAME at staging time instead.
      def requireSlice(fs: Set[java.nio.file.Path], slice: String): Unit =
        require(fs.nonEmpty,
          s"q237 staging: the $slice slice is EMPTY at $dir — the " +
            "three-trigger watermark contract needs all of bulk/carrier/" +
            "late to land a part file (carrier = on-time event_id % 7 " +
            "== 0, late = event_id % 5 == 0 at/before the 5-day cutoff)")
      ev.where(onTime && col("event_id") % 7 =!= 0)
        .coalesce(1).write.mode("overwrite").parquet(path)
      val bulk = parts()
      requireSlice(bulk, "bulk")
      ev.where(onTime && col("event_id") % 7 === 0)
        .coalesce(1).write.mode("append").parquet(path)
      val carrier = parts() -- bulk
      requireSlice(carrier, "carrier")
      ev.where(col("ts") > lit(cutoff) || col("event_id") % 5 === 0)
        .coalesce(1).write.mode("append").parquet(path)
      val late = parts() -- bulk -- carrier
      requireSlice(late, "late")
      val now = System.currentTimeMillis()
      def stamp(fs: Set[java.nio.file.Path], offsetMs: Long): Unit =
        fs.foreach(p => java.nio.file.Files.setLastModifiedTime(
          p, java.nio.file.attribute.FileTime.fromMillis(now - offsetMs)))
      stamp(bulk, 240000L); stamp(carrier, 120000L); stamp(late, 0L)
      java.nio.file.Files.createFile(marker)
    }
    path
  }

  /** q238's three-trigger straggler tape: the sessionize divergence
    * boundary, staged deterministically (the q237 pattern applied to
    * the round-12 emit-on-arrival fix). Slices, with C = max(ts) − 5
    * days:
    *   - File 1 (trigger 0, BULK) = events with ts ≤ C that are NOT
    *     replay-selected. Trigger 0's watermark is still the initial 0,
    *     so only arrival-gap closures emit; each user's last bulk
    *     session stays open, timeout armed.
    *   - File 2 (trigger 1, TAIL) = events with ts > C + 1 hour from
    *     NON-REPLAY users (user_id % 3 ≠ 0). The one-hour GUARD BAND
    *     (events in (C, C+1h] are left off the tape entirely, every
    *     slice predicate replayed by the oracle) guarantees every tail
    *     event is > gap (30 min) after any bulk event, so a tail user's
    *     open bulk session closes on arrival — no cross-cutoff merges
    *     to model. The tail also drives the final watermark ~5 days
    *     past C. REPLAY users (user_id % 3 == 0) contribute NO
    *     post-cutoff events to the tape at all: their open bulk session
    *     is guaranteed to still be state when the stragglers land
    *     (every real user base has both always-on and gone-quiet users;
    *     the % 3 predicate makes the split deterministic and
    *     SQL-replayable instead of hostage to which users happen to be
    *     active near the cutoff at a given SF). Two further
    *     deterministic sub-slices keep every oracle branch live:
    *     GONE-IDLE users (% 9 == 3; bulk drops their last 121 h, so
    *     their session times out at trigger 1 and the stragglers
    *     rebuild fresh) and REPLAY-ONLY users (% 9 == 6; bulk drops
    *     all their events — sessions from nothing).
    *   - File 3 (trigger 2, LATE REPLAY) = every event_id % 2 == 0 row
    *     of a replay user with ts in (C − 119h, C]: in-horizon
    *     stragglers. Admission is
    *     judged against the watermark PREVIOUS to trigger 2's update
    *     (= trigger 1's value, ms-floored max BULK ts − 120 h —
    *     SPARK-40925, WmProbeSpec), and the band floor sits ≥ 1 h above
    *     it BY CONSTRUCTION (maxBulk ≤ C ⇒ wm ≤ C − 120 h < C − 119 h),
    *     so every replay reaches the state function regardless of the
    *     filter's boundary inclusivity — the gate certifies the STATE
    *     semantics, not the admission edge q237 already pins.
    * Replays then exercise every branch of sessionize's straggler
    * handling: merge into the still-open bulk session via the
    * running-max rule (t − lastTs ≤ gap, including t arbitrarily far
    * BELOW lastTs — the min/max interval merge, so the merged session
    * absorbs stragglers the batch gap rule q34 would assign to EARLIER,
    * already-emitted sessions: the split-vs-merge divergence), break it
    * when a straggler lands > gap above the running max (arrival
    * closure), restart fresh where the open session already timed out
    * at trigger 1, and the round-12 emit-at-arrival branch (merged
    * session whose ceil-ms timeout the current watermark already
    * passed emits immediately — the branch that used to crash the
    * query).
    */
  private def sessionStragglerStreamDir(s: SparkSession, dir: String): String = {
    val path = scratch("stream-straggler", dir)
    val root = java.nio.file.Paths.get(path)
    val marker = root.resolve("_graft_staged")
    if (!java.nio.file.Files.exists(marker)) {
      val ev = t(s, dir, "events")
      val row = ev.agg(
        (max(col("ts")) - expr("INTERVAL 5 DAYS")).as("c"),
        (max(col("ts")) - expr("INTERVAL 5 DAYS") - expr("INTERVAL 119 HOURS")).as("lo"),
        (max(col("ts")) - expr("INTERVAL 5 DAYS") + expr("INTERVAL 1 HOUR")).as("hi"),
        (max(col("ts")) - expr("INTERVAL 5 DAYS") - expr("INTERVAL 121 HOURS")).as("idleCut"),
        (max(col("ts")) - expr("INTERVAL 5 DAYS") - expr("INTERVAL 60 HOURS")).as("breakLo"),
        (max(col("ts")) - expr("INTERVAL 5 DAYS") - expr("INTERVAL 61 HOURS")).as("breakCut"))
        .first()
      val (cutoff, lo, hi, idleCut, breakLo, breakCut) =
        (row.getTimestamp(0), row.getTimestamp(1), row.getTimestamp(2),
          row.getTimestamp(3), row.getTimestamp(4), row.getTimestamp(5))
      // Replay-user sub-slices, making every oracle branch LIVE (the
      // uniform-activity testdata has no naturally idle users, so the
      // timed-out-then-straggler and replay-only-user branches would
      // otherwise be dead code on both sides of the compare):
      //   %18 == 0 — seeded merge (open bulk session absorbs stragglers);
      //   %18 == 9 — SEED-BREAK (r13 verdict #3, the last data-dependent
      //     branch made structural): replays restricted to the upper
      //     half of the horizon (> cutoff − 60 h) while bulk keeps
      //     nothing above cutoff − 61 h, so the FIRST straggler lands
      //     ≥ 1 h (> the 30 min gap) above the open session's end and
      //     BREAKS the seed on arrival instead of merging — previously
      //     live at sf0.1 only, by data accident;
      //   %9 == 3 — GONE-IDLE: bulk drops their last 121 h (< cutoff),
      //     so their open session's timeout fires at trigger 1 (below
      //     the c−120 h watermark) and the stragglers rebuild fresh —
      //     the emitted-then-replayed split population;
      //   %9 == 6 — REPLAY-ONLY: bulk drops ALL their events; they
      //     exist only as stragglers (fresh sessions from nothing).
      val replaySel =
        col("ts") <= lit(cutoff) && col("ts") > lit(lo) &&
          col("event_id") % 2 === 0 && col("user_id") % 3 === 0 &&
          (col("user_id") % 18 =!= 9 || col("ts") > lit(breakLo))
      val bulkDrop =
        (col("user_id") % 9 === 3 && col("ts") > lit(idleCut)) ||
          col("user_id") % 9 === 6 ||
          (col("user_id") % 18 === 9 && col("ts") > lit(breakCut))
      import scala.jdk.CollectionConverters._
      def parts(): Set[java.nio.file.Path] =
        scala.util.Using.resource(java.nio.file.Files.list(root)) { st =>
          st.iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet")).toSet
        }
      def requireSlice(fs: Set[java.nio.file.Path], slice: String): Unit =
        require(fs.nonEmpty,
          s"q238 staging: the $slice slice is EMPTY at $dir — the " +
            "three-trigger straggler contract needs all of bulk/tail/" +
            "replay to land a part file (replay = user_id % 3 == 0 and " +
            "event_id % 2 == 0 in (cutoff-119h, cutoff]; tail = " +
            "ts > cutoff + 1h from user_id % 3 != 0)")
      ev.where(col("ts") <= lit(cutoff) && !replaySel && !bulkDrop)
        .coalesce(1).write.mode("overwrite").parquet(path)
      val bulk = parts()
      requireSlice(bulk, "bulk")
      ev.where(col("ts") > lit(hi) && col("user_id") % 3 =!= 0)
        .coalesce(1).write.mode("append").parquet(path)
      val tail = parts() -- bulk
      requireSlice(tail, "tail")
      ev.where(replaySel)
        .coalesce(1).write.mode("append").parquet(path)
      val late = parts() -- bulk -- tail
      requireSlice(late, "replay")
      // Divergence-liveness: the headline population — a replay user
      // whose open bulk session a straggler can merge into (first
      // replay ≤ last bulk ts + gap, trivially true for stragglers
      // BELOW it; the open-at-trigger-2 condition is implied: a bulk
      // event above `lo` is within 119 h of the cutoff, far inside the
      // 120 h timeout horizon) — must exist, or the gate would certify
      // nothing. Fail by name at staging time, not as an oracle bag
      // mismatch.
      val lastBulk = ev
        .where(col("ts") <= lit(cutoff) && !replaySel && !bulkDrop)
        .groupBy("user_id").agg(max(col("ts")).as("last_bulk"))
      val mergeable = ev.where(replaySel)
        .groupBy("user_id").agg(min(col("ts")).as("first_replay"))
        .join(lastBulk, Seq("user_id"))
        .where(col("last_bulk") > lit(lo) &&
          col("first_replay") <= col("last_bulk") + expr("INTERVAL 30 MINUTES"))
        .limit(1).count()
      require(mergeable > 0,
        s"q238 staging: no replay user with a straggler mergeable into an " +
          "open bulk session at this SF — the straggler-merge population " +
          "is dead and the gate would not certify the divergence boundary")
      // The other two branch populations, same fail-by-name discipline:
      // a gone-idle user with BOTH old bulk (a session to time out at
      // trigger 1) and stragglers (to rebuild after it), and a
      // replay-only user with stragglers.
      val idleLive = ev.where(replaySel && col("user_id") % 9 === 3)
        .select("user_id").distinct()
        .join(ev.where(col("user_id") % 9 === 3 && col("ts") <= lit(idleCut))
          .select("user_id").distinct(), Seq("user_id"))
        .limit(1).count()
      require(idleLive > 0,
        "q238 staging: no gone-idle (user_id % 9 == 3) user with both an " +
          "old bulk session and stragglers at this SF — the " +
          "timeout-then-replay split population is dead")
      val replayOnlyLive = ev.where(replaySel && col("user_id") % 9 === 6)
        .limit(1).count()
      require(replayOnlyLive > 0,
        "q238 staging: no replay-only (user_id % 9 == 6) user with " +
          "stragglers at this SF — the fresh-sessions-from-nothing " +
          "population is dead")
      // Seed-break liveness: a %18 == 9 user with BOTH an open bulk
      // session (an event in (lo, cutoff−61 h] ⇒ last_bulk > lo ⇒ its
      // ceil-ms timeout sits > cutoff−118.5 h, above the trigger-1
      // watermark ≤ cutoff−120 h — still state when the stragglers
      // land) and an upper-band straggler (> cutoff−60 h ⇒ ≥ 1 h > gap
      // above any bulk event of theirs ⇒ the first straggler closes
      // the seed on arrival). Measured populations: 1 / 8 / 77 users
      // at sf0.001 / 0.01 / 0.1.
      val breakLive = ev.where(replaySel && col("user_id") % 18 === 9)
        .select("user_id").distinct()
        .join(ev.where(col("user_id") % 18 === 9 &&
            col("ts") > lit(lo) && col("ts") <= lit(breakCut))
          .select("user_id").distinct(), Seq("user_id"))
        .limit(1).count()
      require(breakLive > 0,
        "q238 staging: no seed-break (user_id % 18 == 9) user with an " +
          "open bulk session (event in (lo, cutoff-61h]) and an " +
          "upper-band straggler (> cutoff-60h) at this SF — the " +
          "first-straggler-breaks-the-seed population is dead")
      val now = System.currentTimeMillis()
      def stamp(fs: Set[java.nio.file.Path], offsetMs: Long): Unit =
        fs.foreach(p => java.nio.file.Files.setLastModifiedTime(
          p, java.nio.file.attribute.FileTime.fromMillis(now - offsetMs)))
      stamp(bulk, 240000L); stamp(tail, 120000L); stamp(late, 0L)
      java.nio.file.Files.createFile(marker)
    }
    path
  }

  // Measured at sf0.1 on the stream-stream join: 4 parts median 5.2 s
  // (parallelism-starved), 8 -> 3.2 s, 16 -> 3.2 s with worse cold — 8 is
  // the knee, re-confirming the state-store sizing note in SCALE.md.
  private val StreamPartitions = 8

  /** Derived session for the streaming queries and the stream probes,
    * with shuffle partitions sized to the stream volume: streaming state
    * lives PER PARTITION (a stream-stream join commits four state stores
    * per partition per trigger), so inheriting the batch session's one
    * partition per core (32 on a local[32] bench) multiplies fixed
    * state-store overhead ~4x for zero parallelism benefit at this state
    * size. On a cluster this is the
    * same knob you'd size to executor count × state volume.
    */
  private[graft] def streamSession(s: SparkSession,
      noDataBatches: Boolean = false): SparkSession = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", StreamPartitions.toString)
    // RocksDB state store: measured 1.5-4x faster and far less variant
    // than the HDFS-backed default at sf0.1 (q62: ~3.8 s vs 5.7-16.7 s),
    // and it is the backend that holds large state off-heap at cluster
    // scale.
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Changelog checkpointing commits the per-batch delta instead of a
    // full RocksDB snapshot per store per trigger — measured 3.2 s -> 1.3 s
    // of commit time on the stream-stream join (32 store instances), and
    // it is the setting you'd run with durable checkpoints at scale
    // (snapshots still happen, just asynchronously in maintenance).
    s2.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    // These finite runs emit every result row in the data batches
    // (append-mode inner joins and flatMapGroups emit on arrival;
    // windowed agg runs complete-mode), so the trailing no-data
    // microbatch Spark schedules to advance eviction only adds ~1 s of
    // fixed cost per query — skip it, EXCEPT where the query under test
    // IS the eviction path (q127 session timeouts need the post-data
    // batch that fires them). Long-lived incremental streams
    // (StreamingSpec) keep the default.
    s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
      noDataBatches.toString)
    // Finite runs: unload each store (and stop its maintenance thread)
    // as soon as its commit lands, instead of leaving every stopped
    // query's providers cached — back-to-back streaming queries in one
    // process otherwise accumulate maintenance work that steals cycles
    // from the next query's batch.
    s2.conf.set("spark.sql.streaming.stateStore.unloadOnCommit", "true")
    s2
  }

  /** Structured Streaming end-to-end: the events table consumed
    * incrementally through a watermarked windowed aggregation; the final
    * (complete-mode) answer equals the batch SQL the oracle runs.
    */
  def q38_stream_window(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val streamDir = eventsStreamDir(s, dir)
    // one trigger over all 4 files: complete-mode recomputes full state
    // per trigger, so extra triggers only multiply fixed cost — the
    // incremental multi-trigger path is covered by StreamingSpec
    val stream = graft.streaming.Streams.eventsStream(s, streamDir, maxFilesPerTrigger = 4)
    val counts = graft.streaming.Streams.windowedCounts(stream, "1 hour", "30 minutes")
    graft.streaming.Streams
      .runToCompletion(s, counts, s"q38_sink_${System.nanoTime()}", "complete")
      .select(col("w_start"), col("event_type"), col("n"))
  }

  /** Stream-stream inner join, oracle-checked: both sides watermarked
    * with a 15-minute range condition (Spark buffers only the
    * watermark-bounded window of each side — bounded state at any
    * scale). All files arrive in the first trigger, so the initial
    * watermark drops nothing and the streaming answer must equal the
    * batch self-join the DuckDB oracle runs. Incremental multi-trigger
    * behavior (state eviction, late-row drops) is covered by
    * StreamingSpec.
    */
  def q62_stream_join(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val streamDir = eventsStreamDir(s, dir)
    // full event volume (the r3 user_id%3 cap predated the changelog-
    // checkpointing fixed-cost work; the uncapped join now measures the
    // honest surface). ONE source, self-joined — two separate
    // readStream instances would scan and checkpoint the source twice.
    val src = graft.streaming.Streams
      .eventsStream(s, streamDir, maxFilesPerTrigger = 4)
    val joined = graft.streaming.Streams.streamStreamJoin(src, src)
    graft.streaming.Streams
      .runToCompletion(s, joined, s"q62_sink_${System.nanoTime()}", "append")
      .select("l_user", "l_ts", "l_event", "r_ts", "r_event")
  }

  /** Stream-stream LEFT OUTER join through the oracle gate — the
    * watermark-gated null-emission semantics q62's inner join can't
    * exercise: matches emit as they arrive (batch 1, watermark still
    * 0); an unmatched left row emits with nulls only when the final
    * watermark (max ts − 30 min lateness, ms-floored) passes its state
    * value watermark (l_ts + 15 min maxGap — no future right can
    * match), fired here by the trailing no-data batch. The oracle
    * states both populations: the batch left join's matched rows, plus
    * null rows exactly for lefts with no match whose eviction bound
    * sits below the final watermark — pinning the eviction arithmetic
    * empirically (q127's discipline, applied to join state).
    */
  def q132_stream_outer_join(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0, noDataBatches = true)
    val streamDir = eventsStreamDir(s, dir)
    // a third of the users: q62 already measures uncapped stream-join
    // THROUGHPUT; this query gates the outer-join null-emission
    // SEMANTICS, which the slice exercises in full (matched rows,
    // evicted unmatched, retained-in-state tail) at a third of the
    // state-store cost per bench run
    val src = graft.streaming.Streams
      .eventsStream(s, streamDir, maxFilesPerTrigger = 4)
      .where(col("user_id") % 3 === 0)
    val joined = graft.streaming.Streams
      .streamStreamJoin(src, src, joinType = "left_outer")
    graft.streaming.Streams
      .runToCompletion(s, joined, s"q132_sink_${System.nanoTime()}", "append")
      .select("l_user", "l_ts", "l_event", "r_ts", "r_event")
  }

  /** Custom stateful sessionization (flatMapGroupsWithState), oracle-
    * checked: emits CLOSED sessions (the per-user trailing session stays
    * open in state), which the oracle states declaratively by dropping
    * each user's last session from the batch gap computation.
    */
  def q63_stream_sessions(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val streamDir = eventsStreamDir(s, dir)
    import s.implicits._
    val events = graft.streaming.Streams
      .eventsStream(s, streamDir, maxFilesPerTrigger = 4)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[graft.streaming.Streams.Event]
    val sessions = graft.streaming.Streams.sessionize(s, events).toDF()
    graft.streaming.Streams
      .runToCompletion(s, sessions, s"q63_sink_${System.nanoTime()}", "append")
      .select(col("user_id"), col("start").as("s_start"), col("end").as("s_end"),
        col("n_events"))
  }

  /** The session TIMEOUT path through the oracle gate — q63's twin with
    * no-data microbatches ENABLED: after the single data batch the
    * watermark advances to max(ts) − 30 min (lateness) and the trailing
    * no-data batch fires EventTimeTimeout for every open session whose
    * ceil-ms timeout (lastTs + 30 min gap) sits strictly below it —
    * those final sessions EMIT and their state is evicted. The oracle
    * states both populations declaratively: arrival-closed sessions
    * (every non-last session per user) plus last sessions old enough to
    * time out, replaying Spark's exact integer boundary arithmetic
    * (ms-floored watermark, ceil-ms timeout, strict <) so the gate
    * pins the timeout-firing rule, not just "roughly idle users".
    */
  def q127_stream_session_timeout(s0: SparkSession, dir: String): DataFrame = {
    val (s, sessions) = q127Pipeline(s0, dir)
    graft.streaming.Streams
      .runToCompletion(s, sessions, s"q127_sink_${System.nanoTime()}", "append")
      .select(col("user_id"), col("start").as("s_start"), col("end").as("s_end"),
        col("n_events"))
  }

  /** The ONE construction of q127's sessionize-timeout pipeline, shared
    * by the oracle-gated query and [[q127_probe]] — the probe's value
    * depends on measuring the exact benched pipeline, so the two must
    * not be hand-maintained copies that can desynchronize (review r14).
    */
  private def q127Pipeline(s0: SparkSession, dir: String): (SparkSession, DataFrame) = {
    val s = streamSession(s0, noDataBatches = true)
    val streamDir = eventsStreamDir(s, dir)
    import s.implicits._
    val events = graft.streaming.Streams
      .eventsStream(s, streamDir, maxFilesPerTrigger = 4)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[graft.streaming.Streams.Event]
    (s, graft.streaming.Streams.sessionize(s, events).toDF())
  }

  /** PROBE variant of q127 (ScaleProbe only — NOT part of the query
    * surface): the identical sessionize-timeout pipeline driven through
    * [[graft.streaming.Streams.runToCompletionBounded]], so one
    * aggregate row per batch reaches the driver instead of every
    * emitted session. The oracle-gated q127 keeps the memory sink
    * (DuckDB needs the actual rows); this exists because the probe's
    * 300× tier emits 28.6 M sessions and the memory sink's driver
    * collect — not the operator — was the envelope there (r13 verdict
    * #6). Returns (emitted rows, order-independent xor fingerprint).
    */
  def q127_probe(s0: SparkSession, dir: String): (Long, Long) = {
    val (s, sessions) = q127Pipeline(s0, dir)
    graft.streaming.Streams.runToCompletionBounded(s,
      sessions.select(col("user_id"), col("start").as("s_start"),
        col("end").as("s_end"), col("n_events")))
  }

  /** Native session_window under readStream through the oracle gate —
    * the streaming form of batch q125, closing the trio: q125 (native,
    * batch), q63/q127 (custom stateful stream), q135 (native stream).
    * One data trigger, then the trailing no-data batch advances the
    * watermark to max(ts) − 30 min lateness (ms-floored) and the
    * session-window state operator emits (and evicts) every merged
    * session whose END (last event ts + 30 min gap, µs) sits
    * at-or-below it — the INCLUSIVE eviction boundary pinned by
    * StreamingSpec, the opposite comparison from q127's strict
    * timeout rule. The oracle replays q125's inclusive-gap session
    * chain and keeps exactly that emitted population.
    */
  def q135_stream_session_window(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0, noDataBatches = true)
    val streamDir = eventsStreamDir(s, dir)
    val src = graft.streaming.Streams
      .eventsStream(s, streamDir, maxFilesPerTrigger = 4)
    val sessions = graft.streaming.Streams.sessionWindowAgg(src)
    graft.streaming.Streams
      .runToCompletion(s, sessions, s"q135_sink_${System.nanoTime()}", "append")
      .select("user_id", "s_start", "s_end", "n_events")
  }

  /** At-ingest OOV filtering on a document STREAM — the streaming form
    * of q136 and the "curation at ingest" shape: the reference
    * vocabulary is computed batch-side (model-sized by q136's
    * pigeonhole bound, so collecting it is the kmeansCentroids
    * pattern), then applied per microbatch as ONE codegen'd
    * regexp_count — the trailing token boundary is a zero-width
    * lookahead `(?= |$)`, so consecutive identical tokens count
    * exactly (the space-delimited replace trick undercounts them; 78%
    * of corpus docs contain such runs). Zero state, zero shuffle, no
    * watermark: a crawl-ingest filter that runs at source speed on any
    * cluster. The oracle replays q136's exact explode-join arithmetic,
    * pinning the regex formulation empirically against it.
    */
  def q139_stream_oov_filter(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    import s.implicits._
    // batch side: the df >= 10% vocabulary, collected (model-sized)
    val d = t(s, dir, "documents")
    val nDocs = d.count()
    val vocab = d
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("__tok"))
      .distinct()
      .groupBy("__tok").agg(count(lit(1)).as("__df"))
      .where(col("__df") * 100 >= lit(nDocs * 10))
      .select("__tok").as[String].collect().toSeq.sorted
    require(vocab.nonEmpty, "empty vocabulary: corpus has no common tokens")
    val pattern = vocab.map(java.util.regex.Pattern.quote)
      .mkString("(?:^| )(?:", "|", ")(?= |$)")
    // stream side: documents consumed incrementally, filtered per batch
    val streamDir = docsStreamDir(s, dir)
    val schema = ParquetFooter.schema(s, streamDir)
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 4).parquet(streamDir)
    val nTok = TextAnalysis.tokenCount(col("text"))
    val scored = stream.select(col("doc_id"), nTok.as("n_tokens"),
      (nTok - regexp_count(col("text"), lit(pattern))).as("n_oov"))
      .where(col("n_oov") * 50 <= col("n_tokens"))
    graft.streaming.Streams
      .runToCompletion(s, scored, s"q139_sink_${System.nanoTime()}", "append")
      .select("doc_id", "n_tokens", "n_oov")
  }

  /** Shared by q141 (batch) and q143 (streaming at-ingest): DuckDB
    * replays the span-corruption mix — h = (doc_id mod 1e9)·2654435761
    * mod 1e9+7, span masked iff (h + span)·2654435761 ≡ 0 (mod 5) —
    * and reassembles input/target with ordered string_agg (NULL pieces
    * skipped, exactly array_join's rule).
    */
  private val spanCorruptOracleSql: String =
    """WITH tk AS (
         SELECT doc_id,
                unnest(string_split(text, ' ')) AS tok,
                generate_subscripts(string_split(text, ' '), 1) - 1 AS i,
                ((doc_id % 1000000000) * 2654435761) % 1000000007 AS h
         FROM documents),
       f AS (
         SELECT doc_id, tok, i, i // 3 AS sp,
                ((h + i // 3) * 2654435761) % 5 = 0 AS masked
         FROM tk)
       SELECT doc_id,
              coalesce(string_agg(CASE
                  WHEN NOT masked THEN tok
                  WHEN i % 3 = 0 THEN '<extra_' || CAST(sp AS VARCHAR) || '>'
                END, ' ' ORDER BY i), '') AS input,
              coalesce(string_agg(CASE
                  WHEN masked AND i % 3 = 0
                    THEN '<extra_' || CAST(sp AS VARCHAR) || '> ' || tok
                  WHEN masked THEN tok
                END, ' ' ORDER BY i), '') AS target,
              count(*) AS n_tokens,
              CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
                AS n_masked
       FROM f GROUP BY doc_id"""

  private val oovOracleSql: String =
    """WITH t AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         FROM documents),
       n AS (SELECT count(*) AS n FROM documents),
       df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
       vocab AS (SELECT tok FROM df, n WHERE df * 100 >= n * 10),
       st AS (
         SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_oov
         FROM t LEFT JOIN vocab v USING (tok)
         GROUP BY t.doc_id)
       SELECT doc_id, n_tokens, n_oov
       FROM st WHERE n_oov * 50 <= n_tokens"""

  private[graft] def docsStreamDir(s: SparkSession, dir: String): String = {
    val streamDir = scratch("docstream-src", dir)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$streamDir/_SUCCESS")))
      t(s, dir, "documents").repartition(4).write.mode("overwrite").parquet(streamDir)
    streamDir
  }

  /** Watermarked streaming dedup, oracle-checked: exactly-once per
    * (user_id, event_type, ts) — projected to the key columns so the
    * surviving-row choice can't differ from the oracle's DISTINCT.
    */
  def q64_stream_dedup(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val streamDir = eventsStreamDir(s, dir)
    val stream = graft.streaming.Streams.eventsStream(s, streamDir, maxFilesPerTrigger = 4)
    val deduped = graft.streaming.Streams
      .dedupStream(stream, Seq("user_id", "event_type"))
      .select("user_id", "event_type", "ts")
    graft.streaming.Streams
      .runToCompletion(s, deduped, s"q64_sink_${System.nanoTime()}", "append")
  }

  /** Stream-static enrichment, oracle-checked: the event stream joined
    * per-microbatch against the static customer dimension (zero state —
    * the standard at-ingest attribute attachment), aggregated to one row
    * per market segment so the check is volume-insensitive.
    */
  def q92_stream_enrich(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val streamDir = eventsStreamDir(s, dir)
    val events = graft.streaming.Streams
      .eventsStream(s, streamDir, maxFilesPerTrigger = 4)
    val dim = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val enriched = graft.streaming.Streams
      .enrichWithDim(events, dim, "user_id", "c_custkey")
      .select(col("event_id"), col("c_mktsegment"), cents(col("value")).as("value_c"))
    graft.streaming.Streams
      .runToCompletion(s, enriched, s"q92_sink_${System.nanoTime()}", "append")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_value_c"))
  }

  /** Streaming new-keys filter ([[graft.streaming.Streams.filterKnownKeys]]):
    * events from users NOT present in the customer dimension — the
    * stream-static anti join that drops already-ingested keys at the
    * door, stateless (static side per-microbatch, broadcast-able).
    * Oracle = the batch anti join.
    */
  def q120_stream_antijoin(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val streamDir = eventsStreamDir(s, dir)
    val events = graft.streaming.Streams
      .eventsStream(s, streamDir, maxFilesPerTrigger = 4)
    // known set = a strict subset (custkey %3 == 0) so the anti join has
    // real pass-through volume — a full dimension matches every event
    // and a do-nothing bug would gate green on an empty result
    val dim = t(s, dir, "customer")
      .where(col("c_custkey") % 3 === 0).select(col("c_custkey"))
    val fresh = graft.streaming.Streams
      .filterKnownKeys(events, dim, "user_id", "c_custkey")
      .select(col("event_id"), col("user_id"), cents(col("value")).as("value_c"))
    graft.streaming.Streams
      .runToCompletion(s, fresh, s"q120_sink_${System.nanoTime()}", "append")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_value_c"))
  }

  def q39_union(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
      .select(col("c_custkey").as("k"), lit("cust").as("src"))
    val sup = t(s, dir, "supplier")
      .select(col("s_suppkey").as("k"), lit("supp").as("src"))
    c.unionByName(sup).groupBy("src").agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
  }

  def q40_cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("sum_price_c"))

  def q41_grouping_sets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("q41_lineitem")
    s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS n
             FROM q41_lineitem
             GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""")
  }

  /** Correlated EXISTS + scalar subquery through the SQL surface
    * (Catalyst decorrelates both into joins).
    */
  def q42_subqueries(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("q42_orders")
    t(s, dir, "customer").createOrReplaceTempView("q42_customer")
    s.sql("""SELECT c_custkey,
               (SELECT count(*) FROM q42_orders o
                WHERE o.o_custkey = c.c_custkey) AS n_orders
             FROM q42_customer c
             WHERE EXISTS (SELECT 1 FROM q42_orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_totalprice > 100000)""")
  }

  def q43_outer_joins(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").where(col("o_totalprice") > 150000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_orderkey")).as("n_orders"),
        coalesce(sum(cents(col("o_totalprice"))), lit(0L)).as("sum_price_c"))
  }

  def q44_conditional_agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        sum(when(col("l_quantity") < 10, 1L).otherwise(0L)).as("n_small"),
        sum(when(col("l_quantity") >= 40, 1L).otherwise(0L)).as("n_large"),
        sum(when(col("l_discount") > 0.05, cents(col("l_extendedprice")))
          .otherwise(lit(0L))).as("disc_price_c"))

  /** Exact integer variance: var = (n*Σx² − (Σx)²) / (n*(n−1)) with
    * bigint sums, so both engines divide the same exact integers.
    */
  def q45_variance(s: SparkSession, dir: String): DataFrame = {
    // n·Σx² and (Σx)² overflow INT64 from sf0.1 volumes up (caught by a
    // full sf0.1 oracle sweep: both engines fail loudly — Spark
    // ARITHMETIC_OVERFLOW under its default ANSI mode, DuckDB
    // OutOfRange; an ANSI-off deployment would silently wrap instead).
    // All products run in decimal(38,0) (Spark) / HUGEINT (oracle):
    // exact integers, and both engines round the same exact value to
    // the same double.
    val x = round(col("o_totalprice")).cast("long")
    val dec = "decimal(38,0)"
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(x.cast(dec)).as("sx"),
        sum((x * x).cast(dec)).as("sxx"))
      .select(col("o_orderpriority"), col("n"),
        ((col("n").cast(dec) * col("sxx") - col("sx") * col("sx"))
          .cast("double") /
          (col("n") * (col("n") - 1))).as("var_price"))
  }

  /** Band (range) join: lineitem quantity within ±5 of the part's size,
    * on top of the partkey equi-join — the equi key drives the shuffle,
    * the range is a residual predicate (never a cross product).
    */
  def q46_range_join(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem"); val p = t(s, dir, "part")
    l.join(p, l("l_partkey") === p("p_partkey") &&
        l("l_quantity") >= p("p_size") - 5 && l("l_quantity") <= p("p_size") + 5)
      .groupBy(p("p_brand"))
      .agg(count(lit(1)).as("n"), sum(cents(l("l_extendedprice"))).as("sum_price_c"))
  }

  def q48_count_distinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("nd_part"),
        countDistinct(col("l_suppkey"), col("l_partkey")).as("nd_supp_part"),
        count(lit(1)).as("n"))

  def q49_edit_distance(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
    p.select(col("p_partkey"),
      levenshtein(col("p_brand"), col("p_type")).cast("long").as("dist_bt"),
      levenshtein(col("p_name"), lit("standard polished tin")).cast("long").as("dist_std"))
  }

  def q50_window_funcs(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .where(col("o_orderkey") <= 2000)
      .select(col("o_orderkey"), col("o_orderpriority"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        ntile(4).over(w).cast("long").as("quartile"),
        lag(col("o_orderkey"), 1).over(w).as("prev_key"),
        lead(col("o_orderkey"), 1).over(w).as("next_key"))
  }

  def q47_full_outer(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "customer").where(col("c_custkey") <= 100)
      .select(col("c_custkey").as("k"), col("c_acctbal"))
    val b = t(s, dir, "orders").where(col("o_custkey") >= 50)
      .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("n_ord"))
    a.join(b, Seq("k"), "full_outer")
      .select(col("k"),
        coalesce(cents(col("c_acctbal")), lit(-1L)).as("acctbal_c"),
        coalesce(col("n_ord"), lit(0L)).as("n_ord"))
  }

  // ------------------------------------------------ TPC-H (adapted to the
  // driver schema: lineitem lacks shipmode/commitdate, orders lacks
  // shippriority; predicates adjusted accordingly, aggregates in exact
  // cents with derived averages dividing the same integers both sides)

  /** TPC-H Q1: pricing summary report. */
  def q51_tpch_q1(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .where(col("l_shipdate") <= lit("2001-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(cents(col("l_quantity"))).as("sum_qty_c"),
        sum(cents(col("l_extendedprice"))).as("sum_base_price_c"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_price_c"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")) *
          (lit(1) + col("l_tax")))).as("sum_charge_c"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty",
        col("sum_qty_c").cast("double") / lit(100) / col("count_order"))
      .withColumn("avg_price",
        col("sum_base_price_c").cast("double") / lit(100) / col("count_order"))

  /** TPC-H Q3 (adapted: no o_shippriority; mktsegment + date window). */
  def q52_tpch_q3(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders")
      .where(col("o_orderdate") < lit("1997-03-15").cast("timestamp"))
    val l = t(s, dir, "lineitem")
      .where(col("l_shipdate") > lit("1997-03-15").cast("timestamp"))
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(l("l_orderkey"), o("o_orderdate"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("revenue_c"))
      .orderBy(col("revenue_c").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q5: local supplier volume (supplier nation = customer nation). */
  def q53_tpch_q5(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem"); val sup = t(s, dir, "supplier")
    val n = t(s, dir, "nation"); val r = t(s, dir, "region")
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .join(sup, l("l_suppkey") === sup("s_suppkey") &&
        c("c_nationkey") === sup("s_nationkey"))
      .join(n, sup("s_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .where(r("r_name") === "ASIA" &&
        o("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        o("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .groupBy(n("n_name"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("revenue_c"))
  }

  /** TPC-H Q6: forecasting revenue change. */
  def q54_tpch_q6(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(coalesce(sum(cents(col("l_extendedprice") * col("l_discount"))), lit(0L))
        .as("revenue_c"))

  /** TPC-H Q10 (adapted: no returnflag date window columns beyond those
    * present): returned-item reporting by customer.
    */
  def q55_tpch_q10(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
      .where(col("o_orderdate") >= lit("1996-10-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val l = t(s, dir, "lineitem").where(col("l_returnflag") === "R")
    val n = t(s, dir, "nation")
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .groupBy(c("c_custkey"), c("c_name"), n("n_name"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("revenue_c"), count(lit(1)).as("n_items"))
      .orderBy(col("revenue_c").desc, col("c_custkey").asc)
      .limit(20)
  }

  /** TPC-H Q4 (adapted): order-priority checking — correlated EXISTS
    * over lineitem with a non-equi condition, decorrelated by Catalyst
    * into a left-semi join with a compound condition.
    */
  def q69_tpch_q4(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .where(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
    val l = t(s, dir, "lineitem")
    o.join(l, o("o_orderkey") === l("l_orderkey") &&
        l("l_shipdate") > o("o_orderdate"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
  }

  /** TPC-H Q14 (adapted): promotion revenue share — conditional
    * aggregation over a fact-dim join; numerator/denominator as exact
    * cents, ratio divides the same integers both sides.
    */
  def q70_tpch_q14(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
    val p = t(s, dir, "part")
    val rev = cents(col("l_extendedprice") * (lit(1) - col("l_discount")))
    l.join(p, l("l_partkey") === p("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0L))).as("promo_c"),
        sum(rev).as("total_c"))
      .select(col("promo_c"), col("total_c"),
        (col("promo_c").cast("double") / col("total_c").cast("double"))
          .as("promo_share"))
  }

  /** TPC-H Q19 (adapted): discounted revenue under an OR-of-ANDs
    * brand/size/quantity predicate — the disjunctive-predicate shape
    * that exercises pushdown and the rule's Or/And selectivity walk.
    */
  def q71_tpch_q19(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    val p = t(s, dir, "part")
    l.join(p, l("l_partkey") === p("p_partkey") && (
        (p("p_brand") === "Brand#1" && p("p_size").between(1, 15) &&
          l("l_quantity").between(1, 25)) ||
        (p("p_brand") === "Brand#2" && p("p_size").between(10, 30) &&
          l("l_quantity").between(10, 40))))
      .agg(coalesce(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))),
        lit(0L)).as("revenue_c"), count(lit(1)).as("n"))
  }

  /** TPC-H Q17 (adapted): small-quantity-order revenue — a correlated
    * SCALAR subquery (per-part average quantity) decorrelated into an
    * aggregate + join; the one subquery shape q44/q45 (IN/EXISTS) don't
    * cover. Float parity: l_quantity is integer-valued, so the per-part
    * sum is exact in double regardless of summation order and the
    * 0.2·avg threshold is bit-identical in both engines; the revenue
    * output is exact cents.
    */
  def q72_tpch_q17(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    val p = t(s, dir, "part").where(col("p_brand") === "Brand#3")
    val avgQty = l.groupBy(col("l_partkey").as("ap_partkey"))
      .agg((avg(col("l_quantity")) * 0.2).as("qty_threshold"))
    l.join(p, l("l_partkey") === p("p_partkey"))
      .join(avgQty, l("l_partkey") === col("ap_partkey"))
      .where(col("l_quantity") < col("qty_threshold"))
      .agg(coalesce(sum(cents(col("l_extendedprice"))), lit(0L)).as("sum_price_c"),
        count(lit(1)).as("n"))
  }

  /** TPC-H Q2 (adapted: no partsupp table — the part↔supplier link is
    * the distinct (l_partkey, l_suppkey) pairs observed in lineitem):
    * minimum-acctbal supplier per part. The correlated MIN subquery is
    * expressed Spark-first as a window min over the per-part partition —
    * one shuffle, no self-join — while the oracle keeps the reference's
    * correlated-subquery form. Acctbal equality is exact: both engines
    * compare the same parquet-read doubles, no arithmetic.
    */
  def q73_tpch_q2(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part").where(col("p_size") === 10)
    val sup = t(s, dir, "supplier")
    // broadcast the filtered part dim BELOW the distinct: the pair
    // dedup then shuffles ~5% of the fact (the size-10 slice), not
    // every (partkey, suppkey) pair in lineitem
    val ps = t(s, dir, "lineitem")
      .join(p, col("l_partkey") === p("p_partkey"))
      .select(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
      .distinct()
    val w = Window.partitionBy(col("ps_partkey"))
    ps.join(sup, col("ps_suppkey") === sup("s_suppkey"))
      .withColumn("min_bal", min(sup("s_acctbal")).over(w))
      .where(sup("s_acctbal") === col("min_bal"))
      .select(col("ps_partkey").as("p_partkey"), sup("s_suppkey"), sup("s_name"),
        cents(sup("s_acctbal")).as("s_acctbal_c"))
  }

  /** TPC-H Q7: volume shipping between two nations — the two-role nation
    * dimension (supplier nation vs customer nation) with a symmetric OR
    * pair predicate, grouped by shipping year.
    */
  def q74_tpch_q7(s: SparkSession, dir: String): DataFrame = {
    val sup = t(s, dir, "supplier"); val l = t(s, dir, "lineitem")
    val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
    // the symmetric OR can't push below the join, but its implied
    // single-side filters can: each nation dim drops to 2 rows before
    // broadcast, and the FK joins against them filter the fact early
    val pair = Seq("NATION_1", "NATION_2")
    val n1 = t(s, dir, "nation").where(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
    val n2 = t(s, dir, "nation").where(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
    sup.join(l, sup("s_suppkey") === l("l_suppkey"))
      .join(o, o("o_orderkey") === l("l_orderkey"))
      .join(c, c("c_custkey") === o("o_custkey"))
      .join(n1, sup("s_nationkey") === col("n1_key"))
      .join(n2, c("c_nationkey") === col("n2_key"))
      .where(((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1")) &&
        l("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        l("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(l("l_shipdate")).cast("long").as("l_year"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("revenue_c"))
  }

  /** TPC-H Q13: customer order-count distribution — the left outer join
    * with a join-side-only predicate (excluded priority), then a
    * two-level aggregation over the count itself.
    */
  def q75_tpch_q13(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").where(col("o_orderpriority") =!= "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(c("c_custkey"))
      .agg(count(o("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
  }

  /** TPC-H Q18: large-volume customers — HAVING over a per-order
    * quantity sum joined back to customer/order detail. Quantities are
    * integer-valued, summed as exact cents.
    */
  def q76_tpch_q18(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    // aggregate the fact FIRST: the per-order sum + HAVING keeps ~1% of
    // orders, so the customer/orders joins see thousands of rows, not
    // 600k — the grouping keys are functionally dependent on o_orderkey,
    // so this is the same result as grouping after the joins (which is
    // how the oracle states it)
    val big = l.groupBy(col("l_orderkey").as("b_orderkey"))
      .agg(sum(cents(col("l_quantity"))).as("sum_qty_c"))
      .where(col("sum_qty_c") > 250 * 100L)
    o.join(big, o("o_orderkey") === col("b_orderkey"))
      .join(c, c("c_custkey") === o("o_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), cents(col("o_totalprice")).as("totalprice_c"),
        col("sum_qty_c"))
  }

  /** TPC-H Q22 (adapted: nationkey stands in for the phone country
    * code, and — since every synthetic customer has orders — "no orders"
    * becomes "no URGENT orders"): above-average-balance customers with
    * no urgent order — scalar-average subquery + filtered anti join. The
    * threshold is integer cents DIV count (exact integer math), so the
    * boundary can't drift between engines the way an IEEE average could.
    */
  def q77_tpch_q22(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").where(col("o_orderpriority") === "1-URGENT")
    // `div` = exact integer division, same as the oracle's `//` for
    // positive sums — double-divide-then-truncate could round across an
    // integer boundary
    val thr = c.where(col("c_acctbal") > 0)
      .agg(sum(cents(col("c_acctbal"))).as("bal_sum_c"), count(lit(1)).as("n_cust"))
      .selectExpr("bal_sum_c div n_cust AS thr_c")
    c.crossJoin(broadcast(thr))
      .where(cents(col("c_acctbal")) > col("thr_c"))
      .join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        sum(cents(col("c_acctbal"))).as("totacctbal_c"))
  }

  /** TPC-H Q15: top supplier — revenue-per-supplier subquery reused
    * twice (detail + scalar max), the view-reuse shape; ties all
    * surface because the comparison is on exact cents.
    */
  def q78_tpch_q15(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("total_rev_c"))
    val maxRev = rev.agg(max(col("total_rev_c")).as("max_rev_c"))
    t(s, dir, "supplier")
      .join(rev, col("s_suppkey") === col("l_suppkey"))
      .crossJoin(broadcast(maxRev))
      .where(col("total_rev_c") === col("max_rev_c"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev_c"))
  }

  /** TPC-H Q16 (adapted: supplier link via lineitem, supplier complaint
    * filter via negative acctbal): distinct-supplier counts per
    * brand/size with a NOT IN exclusion subquery (anti join).
    */
  def q79_tpch_q16(s: SparkSession, dir: String): DataFrame = {
    val badSup = t(s, dir, "supplier").where(col("s_acctbal") < 0)
      .select(col("s_suppkey").as("bad_key"))
    t(s, dir, "lineitem")
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .where(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO")
      .join(badSup, col("l_suppkey") === col("bad_key"), "left_anti")
      .groupBy(col("p_brand"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** TPC-H Q21 (adapted: "late" = shipped more than 90 days after the
    * order date, standing in for receipt>commit): suppliers who were the
    * SOLE late supplier on a multi-supplier finalized order. Runs
    * through the SQL surface so Catalyst decorrelates the
    * EXISTS/NOT EXISTS pair into semi/anti joins under the Selinger
    * rule's session.
    */
  def q80_tpch_q21(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "supplier").createOrReplaceTempView("q80_supplier")
    t(s, dir, "lineitem").createOrReplaceTempView("q80_lineitem")
    t(s, dir, "orders").createOrReplaceTempView("q80_orders")
    s.sql(
      """SELECT s_name, count(*) AS numwait
        |FROM q80_supplier, q80_lineitem l1, q80_orders
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        |  AND EXISTS (SELECT 1 FROM q80_lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM q80_lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY s_name""".stripMargin)
  }

  /** TPC-H Q8: national market share — an 8-relation join (nation plays
    * two roles) with a conditional-share aggregation by year; the widest
    * chain the Selinger DP orders in this surface. Share divides two
    * exact cent sums once, so the double is bit-identical.
    */
  def q86_tpch_q8(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
    val c = t(s, dir, "customer"); val sup = t(s, dir, "supplier")
    val p = t(s, dir, "part").where(col("p_type") === "PROMO")
    val r = t(s, dir, "region").where(col("r_name") === "ASIA")
    val n1 = t(s, dir, "nation")
      .select(col("n_nationkey").as("cn_key"), col("n_regionkey").as("cn_region"))
    val n2 = t(s, dir, "nation")
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val rev = cents(col("l_extendedprice") * (lit(1) - col("l_discount")))
    l.join(p, l("l_partkey") === p("p_partkey"))
      .join(sup, l("l_suppkey") === sup("s_suppkey"))
      .join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(n1, c("c_nationkey") === col("cn_key"))
      .join(r, col("cn_region") === r("r_regionkey"))
      .join(n2, sup("s_nationkey") === col("sn_key"))
      .where(o("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        o("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .groupBy(year(o("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(when(col("supp_nation") === "NATION_1", rev).otherwise(lit(0L)))
        .as("nation_rev_c"), sum(rev).as("total_rev_c"))
      .select(col("o_year"), col("nation_rev_c"), col("total_rev_c"),
        (col("nation_rev_c").cast("double") / col("total_rev_c").cast("double"))
          .as("mkt_share"))
  }

  /** TPC-H Q9 (adapted: no partsupp — supply cost stands in as
    * retailprice × quantity): profit by supplier nation and year over a
    * LIKE-filtered part set. Both profit terms round to cents BEFORE the
    * subtraction, so the aggregate is exact integer math.
    */
  def q87_tpch_q9(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
    val sup = t(s, dir, "supplier"); val n = t(s, dir, "nation")
    val p = t(s, dir, "part").where(col("p_name").contains("bolt"))
    val amount = cents(col("l_extendedprice") * (lit(1) - col("l_discount"))) -
      cents(col("p_retailprice") * col("l_quantity"))
    l.join(p, l("l_partkey") === p("p_partkey"))
      .join(sup, l("l_suppkey") === sup("s_suppkey"))
      .join(o, l("l_orderkey") === o("o_orderkey"))
      .join(n, sup("s_nationkey") === n("n_nationkey"))
      .groupBy(n("n_name").as("nation"),
        year(o("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(amount).as("profit_c"))
  }

  /** TPC-H Q11 (adapted: part value per supplier-nation from lineitem
    * revenue): parts whose value exceeds a fraction of the national
    * total — aggregate-over-aggregate with an integer scalar threshold
    * (`div`, exact).
    */
  def q88_tpch_q11(s: SparkSession, dir: String): DataFrame = {
    val sup = t(s, dir, "supplier").where(col("s_nationkey") === 3)
    val v = t(s, dir, "lineitem")
      .join(sup, col("l_suppkey") === sup("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(cents(col("l_extendedprice"))).as("val_c"))
    val thr = v.agg(sum(col("val_c")).as("tot_c"))
      .selectExpr("tot_c div 500 AS thr_c")
    v.crossJoin(broadcast(thr))
      .where(col("val_c") > col("thr_c"))
      .select(col("l_partkey"), col("val_c"))
  }

  /** TPC-H Q12 (adapted: no shipmode — returnflag classes the lines):
    * late-shipment priority mix, the two-way conditional count.
    */
  def q89_tpch_q12(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders"); val l = t(s, dir, "lineitem")
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .where(l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAY") &&
        l("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        l("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .groupBy(l("l_returnflag"))
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
  }

  /** TPC-H Q20 (adapted: "excess stock" = a supplier shipped the strict
    * majority of a contested part's windowed quantity; membership alone
    * is trivially true at this data shape, so the output is the
    * per-supplier COUNT of such parts): nested aggregate join, exact
    * integer comparison (sq·2 > tq).
    */
  def q90_tpch_q20(s: SparkSession, dir: String): DataFrame = {
    val lw = t(s, dir, "lineitem")
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
    val ps = lw.groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(cents(col("l_quantity"))).as("sq_c"))
    val tot = lw.groupBy(col("l_partkey").as("pk"))
      .agg(sum(cents(col("l_quantity"))).as("tq_c"),
        countDistinct(col("l_suppkey")).as("n_sup"))
    val excess = ps.join(tot, col("l_partkey") === col("pk"))
      .where(col("n_sup") >= 2 && col("sq_c") * 2 > col("tq_c"))
      .select(col("l_suppkey"), col("l_partkey"))
    t(s, dir, "supplier").where(col("s_nationkey") === 5)
      .join(excess, col("s_suppkey") === col("l_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("n_excess_parts"))
  }

  /** Exact grouped percentiles (p25/median/p75 of order value): Spark's
    * `percentile` and DuckDB's `quantile_cont` share the same linear
    * interpolation at rank (n-1)·p, and over exact integer cents the
    * interpolated midpoints are exact in double — so even the quantile
    * surface is bit-checkable. (At 100 TB you'd reach for
    * approx_percentile's t-digest instead; this is the exact form that
    * oracles can verify.)
    */
  def q91_group_median(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderpriority"), cents(col("o_totalprice")).as("price_c"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        expr("percentile(price_c, 0.25)").as("p25_c"),
        expr("percentile(price_c, 0.5)").as("median_c"),
        expr("percentile(price_c, 0.75)").as("p75_c"))

  /** The 100 TB companion to q91's exact percentiles: one-pass MERGEABLE
    * quantile sketch (percentile_approx — Greenwald-Khanna, O(accuracy)
    * state per group, map-side combine) checked against its own hard
    * rank-error guarantee (±1/accuracy ranks). The query returns the
    * VIOLATIONS of that guarantee — rows where the sketch answer's exact
    * rank interval fails to intersect [floor((q−eps)·n) − 1,
    * ceil((q+eps)·n) + 1] with eps = 1/accuracy (the extra ±1 rank
    * absorbs boundary-tie discreteness) — provably empty when the sketch
    * honors its contract — and the oracle states the empty set (the q27
    * pattern: the invariant is SQL-expressible even though the sketch
    * isn't). The exact bounds are the CHECK; production runs the sketch
    * alone.
    */
  def q95_sketch_quantiles(s: SparkSession, dir: String): DataFrame = {
    val acc = 100
    val qs = Seq(0.5, 0.9, 0.99)
    val eps = 1.0 / acc // the sketch's rank-error guarantee
    val docs = t(s, dir, "documents")
      .select(col("lang"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    val apx = docs.groupBy("lang")
      .agg(expr(s"percentile_approx(n_tokens, array(${qs.mkString(",")}), $acc)")
        .as("__apx"), count(lit(1)).as("__n"))
      .select(col("lang"), col("__n"),
        posexplode(col("__apx")).as(Seq("__qi", "__approx")))
    // The contract is on RANKS, not values (checking against interpolated
    // exact percentiles false-alarms on small groups where interpolation
    // exceeds the data value at the floor rank). Recover the sketch
    // answer's exact rank interval with one broadcast join of |langs|x3
    // rows back over the corpus, then assert it intersects
    // [floor((q-eps)n) - 1, ceil((q+eps)n) + 1].
    val target = element_at(array(qs.map(lit): _*), col("__qi") + 1) * col("__n")
    docs.join(broadcast(apx), Seq("lang"))
      .groupBy("lang", "__qi", "__approx", "__n")
      .agg(sum(when(col("n_tokens") <= col("__approx"), 1L).otherwise(0L)).as("__le"),
        sum(when(col("n_tokens") < col("__approx"), 1L).otherwise(0L)).as("__lt"))
      .where(col("__le") < floor(target - lit(eps) * col("__n")) - 1 ||
        col("__lt") + 1 > ceil(target + lit(eps) * col("__n")) + 1)
      .select(col("lang"), col("__qi").cast("long").as("q_idx"),
        col("__approx").cast("double").as("approx"))
  }

  /** HLL distinct-count sketch (approx_count_distinct — the same sketch
    * TableStats builds ndv from) on the query surface: fixed 2^p bytes
    * per group and mergeable, vs q48's exact count(distinct) which
    * re-keys the fact table per group. Returns groups where the sketch
    * misses exact by more than 15% (3x its 5% target rsd) — empty for
    * any dataset where HLL behaves, and deterministic for a GIVEN
    * dataset, so the gate is stable. Oracle states the empty set.
    */
  def q96_hll_ndv(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("exact_ndv"),
        approx_count_distinct(col("l_orderkey"), 0.05).as("approx_ndv"))
      .where(abs(col("approx_ndv") - col("exact_ndv")) >
        col("exact_ndv") * lit(0.15))
      .select(col("l_returnflag"), col("exact_ndv"), col("approx_ndv"))

  /** End-to-end corpus build — the operators composed the way a real
    * pretraining pipeline chains them, in ONE declarative plan: quality
    * gate (q24's formula) → exact dedup keeping the min-id
    * representative (q20's semantics, as a single struct-min
    * aggregation) → per-language token-budget shard packing (q83).
    * Catalyst fuses the scoring into the scan stage, so the whole
    * pipeline is 2 shuffles: one for the dedup hash-agg, one for the
    * packing window. Filtering on the bit-parity `quality` double is
    * safe — q24 proves both engines compute it bit-identically.
    */
  def q97_corpus_pipeline(s: SparkSession, dir: String): DataFrame = {
    val scored = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.stopwordCount(col("text")).as("__sc"))
      .withColumn("quality", qualityExpr(col("n_tokens"), col("__sc")))
      .where(col("quality") >= 0.5)
    val deduped = scored
      .groupBy(col("text"))
      .agg(min(struct(col("doc_id"), col("lang"), col("n_tokens"))).as("__r"))
      .select(col("__r.doc_id").as("doc_id"), col("__r.lang").as("lang"),
        col("__r.n_tokens").as("n_tokens"))
    Packing.shardByTokenBudget(deduped, col("n_tokens"), col("doc_id"),
      budget = 1000L, stratumCols = Seq(col("lang")))
      .select("doc_id", "lang", "n_tokens", "shard_id")
  }

  /** Blocking-key star edges over documents (source×size-bucket OR
    * lang×size-bucket) — the duplicate-evidence graph q98/q109 cluster
    * and q113 ranks. Key semantics must stay in lockstep with
    * [[dupClosureCtesSql]]/[[blockingEdgeCtesSql]].
    */
  private def docBlockingEdges(docs: DataFrame): DataFrame = {
    val bucket = (col("n_chars") / lit(50)).cast("long")
    def starEdges(key: Column): DataFrame = docs
      .select(col("doc_id"), key.as("__k"))
      .withColumn("a", min(col("doc_id")).over(Window.partitionBy(col("__k"))))
      .select(col("a"), col("doc_id").as("b"))
      .where(col("a") =!= col("b"))
    starEdges(concat_ws("|", col("source"), bucket))
      .unionByName(starEdges(concat_ws("|", col("lang"), bucket)))
  }

  /** Near-dup cluster canonicalization ([[Graph.componentsFor]] —
    * alternating large-star/small-star connected components): documents
    * sharing a blocking key (source×size-bucket OR lang×size-bucket)
    * are duplicate evidence; transitive closure assigns every doc the
    * min doc-id of its cluster as canonical. Edges are STAR edges (each
    * doc → its key-group minimum, one window per key), so a g-doc group
    * costs g edges, never g² pairs — the entity-resolution shape that
    * survives 100 TB. The oracle replays the closure with a recursive
    * CTE over the same edges.
    */
  private def docDupComponents(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Graph.componentsFor(docs, "doc_id", docBlockingEdges(docs), "a", "b")
  }

  def q98_dup_clusters(s: SparkSession, dir: String): DataFrame =
    docDupComponents(s, dir)
      .select(col("id").as("doc_id"), col("component"),
        (col("id") === col("component")).cast("long").as("is_canonical"))

  /** Data-mixture resampling ([[Sampling.mixtureSample]]): downsample
    * over-represented languages to a 6:3:1 en:de:zh token mixture. The
    * binding stratum (smallest tokens/weight) survives whole; others
    * keep an exact-rational fraction via integer cross-multiplication
    * on the q82 multiplicative id mix — one #strata-row agg, then a
    * scan-speed predicate; the corpus itself never shuffles.
    */
  def q99_mixture_sample(s: SparkSession, dir: String): DataFrame = {
    val mix = Sampling.idMix(col("doc_id"), 10000L)
    val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"), mix.as("bucket"))
    Sampling.mixtureSample(docs, "lang", col("n_tokens"),
      Seq("en" -> 6L, "de" -> 3L, "zh" -> 1L), col("bucket"))
  }

  /** Time-series regularization ([[TimeSeries.resample]]): each user's
    * event stream onto a gapless hourly grid — counts zero-filled,
    * value sums forward-filled (leading gaps zeroed). Spine is per-key
    * `sequence(min,max)`, never a global calendar cross join.
    */
  def q100_ts_gapfill(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").where(col("user_id") < 40)
    TimeSeries.resample(ev, "user_id",
      date_trunc("hour", col("ts")), "interval 1 hour",
      Seq(count(lit(1)).as("n_events"), sum(cents(col("value"))).as("sum_value_c")),
      zeroFill = Seq("n_events", "sum_value_c"),
      ffill = Seq("sum_value_c"))
      .select(col("user_id"), unix_timestamp(col("bucket")).as("h_epoch"),
        col("n_events"), col("sum_value_c"))
  }

  /** Bloom semi-join reduction ([[BloomPrune.reducedJoin]]): lineitem
    * probed against a Bloom filter of the urgent orders' keys at scan
    * speed (codegen'd [[graft.functions.BloomMightContain]]) before the
    * exact join — non-matching fact rows never reach the shuffle; false
    * positives die in the join, so the oracle is the PLAIN join.
    */
  def q101_bloom_join(s: SparkSession, dir: String): DataFrame = {
    val urgent = t(s, dir, "orders")
      .where(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    BloomPrune.reducedJoin(t(s, dir, "lineitem"), urgent,
      "l_orderkey", "o_orderkey", expectedItems = 20000L, fpp = 0.01)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_c"))
  }

  /** Pivot → unpivot round-trip: per-returnflag quantity sums pivoted
    * wide by linestatus, then melted back long — both reshapes in one
    * plan; the oracle states the equivalent plain GROUP BY (the
    * round-trip must be the identity on non-empty cells).
    */
  def q102_pivot_unpivot(s: SparkSession, dir: String): DataFrame = {
    val wide = t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(cents(col("l_quantity"))))
    wide.unpivot(Array(col("l_returnflag")), Array(col("F"), col("O")),
      "l_linestatus", "sum_qty_c")
      .where(col("sum_qty_c").isNotNull)
  }

  /** Per-label embedding centroids, dimension-parallel: posexplode →
    * one (label, dim)-keyed agg — a 64-dim vector costs 64 shuffle
    * rows, never an array buffer, so a billion-vector centroid pass is
    * an ordinary hash agg. Values quantized to exact 2^-20 fixed point
    * (power-of-two multiply is exact in IEEE; sums are integer math)
    * per the cents discipline; the mean divides the same exact integers
    * in the same order on both sides.
    */
  def q103_label_centroids(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(sum(round(col("v").cast("double") * lit(1048576L)).cast("long")).as("sum_q"),
        count(lit(1)).as("n"))
      .select(col("label"), col("dim").cast("long").as("dim"),
        col("sum_q"), col("n"),
        (col("sum_q").cast("double") / col("n") / lit(1048576.0)).as("mean"))

  /** Balanced eval-set construction ([[Sampling.exactKPerStratum]]):
    * exactly 20 docs per language, ranked by a deterministic id mix —
    * bounded per-partition heaps through the custom TopKPerGroup
    * physical operator, reproducible on any engine.
    */
  def q104_exact_k_sample(s: SparkSession, dir: String): DataFrame = {
    val mix = Sampling.idMix(col("doc_id"))
    Sampling.exactKPerStratum(
      t(s, dir, "documents").select("doc_id", "lang"),
      "lang", "doc_id", k = 20, bucketOf = mix)
  }

  /** Incremental aggregate maintenance ([[IncrementalAgg]]): the base
    * partition's partials (the persisted state) merged with a fresh
    * delta's partials — the delta is aggregated alone, the base is
    * never rescanned at merge time. The oracle recomputes from scratch:
    * algebraic merge must be lossless.
    */
  def q105_incremental_agg(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"),
      col("l_returnflag"), col("l_linestatus"),
      cents(col("l_quantity")).as("q_c"))
    val keys = Seq("l_returnflag", "l_linestatus")
    val base = IncrementalAgg.partials(
      li.where(col("l_orderkey") % 10 =!= 0), keys, Seq("q_c"))
    val delta = IncrementalAgg.partials(
      li.where(col("l_orderkey") % 10 === 0), keys, Seq("q_c"))
    IncrementalAgg.merge(base, delta, keys, Seq("q_c"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("q_c_sum"), col("q_c_cnt"), col("q_c_min"), col("q_c_max"),
        IncrementalAgg.mean("q_c").as("q_c_mean"))
  }

  /** Salted skewed join ([[Skew.saltedJoin]]) through the value gate:
    * the hot left side spreads each key over 8 salt buckets, the right
    * side replicates 8×; the oracle is the PLAIN join — salting must be
    * result-invisible.
    */
  def q106_salted_join(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        cents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev_c"))
    val urgent = t(s, dir, "orders")
      .where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderpriority"))
    Skew.saltedJoin(li, urgent, "l_orderkey", "o_orderkey",
      saltSource = col("l_linenumber"), buckets = 8)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("rev_c")).as("revenue_c"))
  }

  /** Bucketed co-located join ([[graft.core.Bucketing]]) through the
    * value gate: both sides written bucketed-by-key (the physical design
    * that pre-pays the shuffle once at write time), then joined — the
    * plan has zero exchanges (BucketingSpec pins that); this query pins
    * the VALUES against the plain-join oracle.
    *
    * WRITE-PATH query (WriteAudit.audited): building the
    * DataFrame drops/deletes the scratch tables and performs both
    * bucketed writes — the operator under test.
    */
  def q107_bucketed_join(s: SparkSession, dir: String): DataFrame = {
    val (lt, ot) = (s"graft_q107_li_${dirSlug(dir)}", s"graft_q107_ord_${dirSlug(dir)}")
    val (lp, op) = (scratch("q107-li", dir), scratch("q107-ord", dir))
    // external tables at explicit scratch paths, pre-cleaned: a managed
    // table's leftover warehouse dir from a PREVIOUS session's run would
    // fail the create with LOCATION_ALREADY_EXISTS (catalog is in-memory,
    // the filesystem is not)
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    Seq(lt -> lp, ot -> op).foreach { case (n, p) =>
      s.sql(s"DROP TABLE IF EXISTS $n")
      fs.delete(new org.apache.hadoop.fs.Path(p), true)
    }
    graft.core.Bucketing.writeBucketed(
      t(s, dir, "lineitem").select(col("l_orderkey"),
        cents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev_c")),
      lt, "l_orderkey", buckets = 8, path = Some(lp))
    graft.core.Bucketing.writeBucketed(
      t(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
      ot, "o_orderkey", buckets = 8, path = Some(op))
    graft.core.Bucketing.coLocatedJoin(s, lt, ot, "l_orderkey", "o_orderkey")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(col("rev_c")).as("revenue_c"))
  }

  /** Nearest-centroid confusion matrix ([[Similarity.assignNearest]]):
    * per-label centroids built with the exact fixed-point math of q103
    * (identical doubles in both engines), collected as the model
    * (#labels × dim — metadata, not data), then every vector assigned
    * map-only to its best centroid by cosine. Output: (true label,
    * assigned, n) — the cluster-purity eval of an embedding space.
    */
  def q108_centroid_assign(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val centRows = e
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(sum(round(col("v").cast("double") * lit(1048576L)).cast("long")).as("sq"),
        count(lit(1)).as("n"))
      .collect() // #labels × dim rows — the model, never the corpus
    val cents = centRows.groupBy(_.getLong(0)).toSeq
      .map { case (l, rows) =>
        l -> rows.sortBy(_.getInt(1))
          .map(r => r.getLong(2).toDouble / r.getLong(3) / 1048576.0).toSeq
      }.sortBy(_._1)
    Similarity.assignNearest(e, "embedding", cents)
      .groupBy(col("label").cast("long").as("label"), col("assigned"))
      .agg(count(lit(1)).as("n"))
  }

  /** Canonical-representative pick — the dedup pipeline's conclusion:
    * q98's duplicate clusters joined with q97's quality score, keeping
    * the HIGHEST-quality doc per cluster (ties → lowest doc_id) instead
    * of the arbitrary min-id. One window over the component key on top
    * of the clustering — at scale the per-cluster argmax is a bounded
    * heap, never a cluster materialization.
    */
  def q109_canonical_pick(s: SparkSession, dir: String): DataFrame = {
    val comps = docDupComponents(s, dir)
    val scored = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.stopwordCount(col("text")).as("__sc"))
      .withColumn("quality",
        qualityExpr(col("n_tokens"), col("__sc")))
    val w = Window.partitionBy("component")
      .orderBy(col("quality").desc, col("doc_id"))
    comps.join(scored, comps("id") === scored("doc_id"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("component"), col("doc_id").as("canonical_id"),
        col("lang"), col("quality"))
  }

  /** Edit-distance similarity join ([[FuzzyJoin.editDistanceSelfJoin]],
    * PassJoin-shaped): the corpus vocabulary self-joined within
    * distance 2 — segment-pigeonhole blocking keys, one equi-join
    * shuffle, exact levenshtein verification on candidates only. The
    * oracle brute-forces the (tiny) vocabulary; the OPERATOR never
    * does.
    */
  def q110_fuzzy_join(s: SparkSession, dir: String): DataFrame = {
    val vocab = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .distinct()
    FuzzyJoin.editDistanceSelfJoin(vocab, "w", "w", maxDist = 2)
      .withColumnRenamed("id_a", "word_a")
      .withColumnRenamed("id_b", "word_b")
  }

  /** Ordered-funnel analysis: per user, first `view`, first `click`
    * AFTER that view, first `purchase` after that click — three
    * user-keyed min-aggs chained by strict event-time order, reduced to
    * stage conversion counts. Each stage is one small agg + one join on
    * user_id; no window over the full event stream.
    */
  def q111_funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select("user_id", "event_type", "ts")
    val v = ev.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t_view"))
    val c = ev.where(col("event_type") === "click")
      .join(v, "user_id").where(col("ts") > col("t_view"))
      .groupBy("user_id").agg(min("ts").as("t_click"))
    val p = ev.where(col("event_type") === "purchase")
      .join(c, "user_id").where(col("ts") > col("t_click"))
      .groupBy("user_id").agg(min("ts").as("t_purchase"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .agg(count(col("t_view")).as("n_view"),
        count(col("t_click")).as("n_click"),
        count(col("t_purchase")).as("n_purchase"))
  }

  /** Space-Saving heavy-hitters sketch ([[graft.stats.SpaceSavingAgg]],
    * k=12 counters) per language over the token stream, gated on its
    * own contracts (the q95/q96 empty-violation pattern): every
    * reported item must satisfy est−err ≤ true ≤ est against the exact
    * counts, and the sketch must report exactly min(k, distinct)
    * items. Sketch CONTENTS may legally vary with partitioning; the
    * contract set is empty on every run, so the gate is stable.
    */
  def q112_heavy_hitters(s: SparkSession, dir: String): DataFrame = {
    val k = 12
    val words = t(s, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
    val sk = words.groupBy("lang")
      .agg(graft.stats.SpaceSavingAgg.column(col("w"), k).as("__sk"))
    val items = sk.select(col("lang"), explode(col("__sk")).as("__it"))
      .select(col("lang"), col("__it._1").as("item"),
        col("__it._2").as("est"), col("__it._3").as("err"))
    val exact = words.groupBy("lang", "w").agg(count(lit(1)).as("true_c"))
    val interval = items
      .join(exact, items("lang") === exact("lang") && col("item") === col("w"))
      .where(col("true_c") > col("est") || col("true_c") < col("est") - col("err"))
      .select(items("lang"), lit("interval").as("kind"), col("item"),
        col("est").as("got"), col("true_c").as("want"))
    val card = sk.select(col("lang"), size(col("__sk")).cast("long").as("__n"))
      .join(exact.groupBy("lang").agg(count(lit(1)).as("__ndv")), "lang")
      .where(col("__n") =!= least(lit(k.toLong), col("__ndv")))
      .select(col("lang"), lit("cardinality").as("kind"),
        lit(null).cast("string").as("item"), col("__n").as("got"),
        least(lit(k.toLong), col("__ndv")).as("want"))
    interval.unionByName(card)
  }

  /** Document centrality over the duplicate-evidence graph
    * ([[Graph.pageRank]]): 3 damped power-iteration rounds in exact
    * integer fixed point (2^20 units), so well-connected near-dup hubs
    * score high — the crawl-quality signal a curation pipeline
    * prioritizes review queues by. Same blocking edges as q98; the
    * oracle unrolls the identical integer recurrence as 3 chained CTEs
    * (fixed iteration count keeps both sides closed-form — no
    * convergence actions, plan-only to build).
    */
  def q113_pagerank(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Graph.pageRank(docs, "doc_id", docBlockingEdges(docs), "a", "b",
      iterations = 3)
      .select(col("id").as("doc_id"), col("rank").as("rank_fp"))
  }

  /** PII scrubbing ([[TextAnalysis.redactPii]]): a deterministic dirty
    * column (emails on doc_id%3, phones on %2, IPs on %5 — derived
    * in-plan from real rows; the corpus tables carry no PII to scrub)
    * is counted per pattern and redacted by three chained codegen'd
    * regexp passes. Scan-speed map-only plan — the standard
    * pre-tokenization cleaning stage at 100 TB. The oracle re-derives
    * the same dirty text and applies RE2 equivalents (`'g'` flag =
    * Java's replaceAll).
    */
  def q114_pii_scrub(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val dirty = concat(
      col("text"),
      when(id % 3 === 0,
        concat(lit(" contact u"), id.cast("string"), lit("@mail.example.com")))
        .otherwise(lit("")),
      when(id % 2 === 0,
        concat(lit(" call 555-"), lpad((id % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(id % 5 === 0,
        concat(lit(" from 10."), (id % 256).cast("string"), lit(".0."),
          (id % 100).cast("string")))
        .otherwise(lit("")))
    t(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.piiCount(dirty, TextAnalysis.EmailPattern).as("n_email"),
      TextAnalysis.piiCount(dirty, TextAnalysis.PhonePattern).as("n_phone"),
      TextAnalysis.piiCount(dirty, TextAnalysis.IpPattern).as("n_ip"),
      TextAnalysis.redactPii(dirty).as("clean"))
  }

  /** Boilerplate detection (C4-style): word trigrams appearing in >30%
    * of a source's documents are boilerplate; per doc, report distinct
    * grams vs boilerplate grams. Plan shape: one (source, gram) hash
    * agg with map-side combine over the exploded grams, the >30%
    * survivors joined back small (boilerplate vocabularies are tiny by
    * definition — broadcast), then a per-doc agg. Documents never
    * shuffle; the gram shuffle carries (source, gram) pairs only.
    */
  def q115_boilerplate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val nDocs = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val grams = docs.select(col("doc_id"), col("source"),
      explode(Dedup.shingles(col("text"), 3)).as("gram"))
    val boiler = grams.groupBy("source", "gram")
      .agg(count(lit(1)).as("df"))
      .join(nDocs, "source")
      .where(col("df") * 100 > col("n_docs") * 30)
      .select(col("source"), col("gram"), lit(1L).as("is_boiler"))
    grams.join(boiler, Seq("source", "gram"), "left")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_grams"),
        count(col("is_boiler")).as("n_boiler"))
  }

  /** Length-band quality filter: keep each language's middle half by
    * n_chars — exact p25/p75 VALUE thresholds computed from a
    * cumulative histogram, never a corpus-wide per-language sort. Plan
    * shape: (lang, n_chars) hash agg (bounded by value ndv), a window
    * over HISTOGRAM rows only, a #langs-row threshold table broadcast
    * back, then a scan-speed band predicate — the exact-arithmetic
    * sibling of the q95 sketch path (at 100 TB you'd trade exactness
    * for GK thresholds; the shape here already scales because the
    * window never sees document rows).
    */
  def q116_band_filter(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val hist = docs.groupBy(col("lang"), col("n_chars"))
      .agg(count(lit(1)).as("c"))
    val cum = hist.withColumn("cum",
      sum(col("c")).over(Window.partitionBy("lang").orderBy("n_chars")))
      .withColumn("cnt", sum(col("c")).over(Window.partitionBy("lang")))
    // lo = smallest value with cum ≥ ¼·cnt, hi = smallest with cum ≥ ¾·cnt
    // (integer cross-multiplication — no rounding mode to disagree on);
    // keep lo < n_chars ≤ hi.
    val th = cum.groupBy("lang").agg(
      min(when(col("cum") * 4 >= col("cnt"), col("n_chars"))).as("lo"),
      min(when(col("cum") * 4 >= col("cnt") * 3, col("n_chars"))).as("hi"))
    docs.join(broadcast(th), "lang")
      .where(col("n_chars") > col("lo") && col("n_chars") <= col("hi"))
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  /** Cross-document repeated-substring spans
    * ([[Dedup.repeatedWindowStats]]): 40-char windows every 10 chars,
    * counted per doc when shared with another doc — the
    * suffix-array-dedup surrogate that catches boilerplate spans inside
    * otherwise-distinct documents. Oracle replays the identical window
    * arithmetic with substr over an unnested range (raw window strings
    * here so DuckDB can reproduce them; production flips `hashWindows`).
    */
  def q117_window_dedup(s: SparkSession, dir: String): DataFrame =
    Dedup.repeatedWindowStats(t(s, dir, "documents"), "doc_id", "text",
      width = 40, stride = 10)

  /** Context-window chunking ([[TextAnalysis.chunkTokens]]): 32-token
    * chunks advancing by 24 (8-token overlap) — the tokenize-and-pack
    * preparation stage before shard packing (q83 consumes rows like
    * these). Pure map + explode, zero shuffle; the oracle replays the
    * identical integer chunk-count/start/length arithmetic with
    * list_slice.
    */
  def q118_chunking(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkTokens(t(s, dir, "documents"), "doc_id", "text",
      chunkSize = 32, overlap = 8)

  /** Int8 embedding quantization for vector export: per-vector max-abs
    * scaling in the q103 exact 2^-20 fixed-point discipline —
    * q8 = sign(v)·((|v_fp|·127) div max_fp) keeps every division on
    * nonnegative integers (floor = truncate, so Spark `div` and DuckDB
    * `//` agree; a direct signed division would NOT — DuckDB floors,
    * Spark truncates). Map-only: the per-vector max runs inside the
    * array (array_max over transform), no shuffle anywhere.
    */
  def q119_int8_quantize(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT))")
        .as("__vq"))
      .withColumn("__mx", expr("array_max(transform(__vq, x -> abs(x)))"))
      .select(col("vec_id"), col("__mx"),
        posexplode(col("__vq")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        when(col("__mx") === 0, lit(0L)).otherwise(
          expr("CAST(sign(v) AS BIGINT) * ((abs(v) * 127) div __mx)"))
          .as("q8"),
        col("__mx").as("max_q"))

  // ---------------------------------------------- pipeline: maintenance

  /** CDC upsert ([[Merge.upsert]]): apply a changeset (updates on keys
    * %5, deletes on keys %15, inserts at fresh negative keys from %7) to
    * the orders snapshot in one window shuffle; the oracle states the
    * same last-writer-wins MERGE declaratively. The +10 price bump is a
    * single IEEE add — bit-identical in both engines — then exact cents.
    */
  def q81_merge_upsert(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val updates = o.where(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        (col("o_totalprice") + 10).as("o_totalprice"),
        when(col("o_orderkey") % 15 === 0, "D").otherwise("U").as("op"))
    // fresh keys: -(k+1) stays disjoint from the snapshot's 0..N keys
    val inserts = o.where(col("o_orderkey") % 7 === 0)
      .select((-(col("o_orderkey") + 1)).as("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), lit("I").as("op"))
    Merge.upsert(o, updates.unionByName(inserts), Seq("o_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("price_c"))
  }

  /** Stratified corpus rebalance ([[Sampling.stratifiedSample]]):
    * per-language keep fractions over a deterministic multiplicative id
    * mix (chosen over xxhash64 here so the oracle can reproduce the
    * bucket exactly) — a scan-speed predicate, no shuffle, no RNG.
    */
  def q82_stratified_sample(s: SparkSession, dir: String): DataFrame = {
    // reduce the id below 1e9 before the multiplicative mix: the product
    // then stays under 2.7e18 < 2^63 for ANY doc_id, where a raw
    // doc_id*2654435761 would wrap silently in Spark but raise an
    // out-of-range error in DuckDB — a cross-engine divergence
    val mix = Sampling.idMix(col("doc_id"), 10000L)
    Sampling.stratifiedSample(
      t(s, dir, "documents"),
      "lang",
      Map("en" -> 0.5, "de" -> 0.25, "zh" -> 0.1),
      bucketOf = Some(mix))
      .select(col("doc_id"), col("lang"), mix.as("bucket"))
  }

  /** Token-budget shard packing ([[Packing.shardByTokenBudget]]):
    * contiguous 1000-token shards per language in doc_id order — the
    * deterministic export sharding a pretraining pipeline runs before
    * writing batch files. Exact long arithmetic end-to-end.
    */
  def q83_pack_shards(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    Packing.shardByTokenBudget(docs, col("n_tokens"), col("doc_id"),
      budget = 1000L, stratumCols = Seq(col("lang")))
  }

  /** Corpus n-gram statistics: top-20 word trigrams by document
    * frequency (distinct per doc via the codegen'd [[Dedup.shingles]]
    * expression, so a doc repeating a gram counts once) — explode →
    * count with map-side partial agg → TakeOrdered; the vocabulary
    * shuffle carries (gram, partial count), never documents.
    */
  def q84_ngram_topk(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(Dedup.shingles(col("text"), 3)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("gram").asc)
      .limit(20)

  /** Inverted index build with the stopword-skew cap LIVE (see
    * [[graft.operators.InvertedIndex]]): tokens appearing in more than
    * 78% of documents are pruned; every aggregation buffer is bounded
    * by the survivor guarantee — no corpus-sized collect_list on a
    * stopword's reducer. The 78% threshold is computed IN-PLAN
    * ([[InvertedIndex.buildRelative]]), so building this query runs no
    * jobs (plan audits stay plan-only); the single-shuffle capped-heap
    * form ([[InvertedIndex.build]]) is equivalence-pinned against this
    * one in OperatorsSpec. Postings serialize as a comma-joined string
    * (the export format — and array-typed columns don't survive the
    * oracle's row sort).
    */
  def q85_inverted_index(s: SparkSession, dir: String): DataFrame =
    InvertedIndex.buildRelative(t(s, dir, "documents"), "doc_id", "text", 78, 100)

  /** XML interchange through the driver gate ([[graft.sources.Formats]]
    * over Spark 4's native XML source): customer → XML files → read
    * back with explicit schema → aggregate. Any row dropped, duplicated,
    * or mutated across the serialize/parse round-trip breaks the hash
    * against the oracle, which reads the SOURCE table. WRITE-PATH query
    * (WriteAudit.audited): building the DataFrame performs the
    * scratch write.
    */
  def q121_xml_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        cents(col("c_acctbal")).as("acctbal_c"))
    val path = scratch("q121-xml", dir)
    graft.sources.Formats.writeXml(c, path, rowTag = "customer")
    graft.sources.Formats.readXml(s, path, c.schema, rowTag = "customer")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum(col("acctbal_c")).as("sum_acctbal_c"),
        min(col("c_custkey")).as("min_key"), max(col("c_custkey")).as("max_key"))
  }

  /** Recall contract on the APPROXIMATE IVF operating point: q31/q61
    * probe every cell (nprobe = nlist), which is provably exact, so
    * nothing gated what happens when IVF is genuinely approximate.
    * Here nprobe = 4 of nlist = 16 scans ~1/4 of the corpus per query,
    * and the contract is recall@10 vs the exact brute-force baseline:
    * the query returns the queries whose recall falls below the floor —
    * provably-empty-when-honored, the q95/q96/q112 sketch-gate pattern;
    * the oracle states the empty set. Floor 0.5 sits a full neighbor
    * under the measured minimum per-query recall (RecallProbe: min 0.70
    * mean 0.89 at sf0.001, min 0.60 mean 0.86 at sf0.01, min 0.80 mean
    * 0.98 at sf0.1) so k-means float jitter can't flap the gate, while
    * still catching any real probing or assignment regression (a broken
    * cell argmax scores ~0.1-0.3).
    */
  def q122_ann_recall(s: SparkSession, dir: String): DataFrame = {
    val k = 10
    val floor = 0.5
    val e = t(s, dir, "embeddings")
    val q = e.where(col("vec_id") < 16)
    val exact = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id", "embedding", k)
    val approx = Similarity.ivfTopK(q, e, "vec_id", "vec_id", "embedding", k,
      nlist = 16, nprobe = 4, trainIters = 2)
    // recall@k = |approx ∩ exact| / |exact| per query (|exact| = k unless
    // the corpus is smaller than k+1); the semi join keys on the pair, so
    // rank disagreements inside the top-k don't count as misses.
    val hits = exact
      .join(approx.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("__hits"))
    exact.groupBy("query_id").agg(count(lit(1)).as("__n"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("__hits"), lit(0L)).cast("double") / col("__n")).as("recall"))
      .where(col("recall") < floor)
  }

  /** TF-IDF term scoring — the retrieval-relevance companion to q85's
    * inverted index: each document's top term by tf·idf. IDF is EXACT
    * FIXED POINT, (10^6 · N) div df (nonneg integer division both
    * engines floor identically), and the tf·idf product runs in
    * decimal(38,0)/HUGEINT — corpus-scale N times per-doc tf overflows
    * INT64 (N=1e13, df=1, tf=1e5 → 1e24), the q45/q99 envelope rule.
    * The output CASTs the winning score to BIGINT (gate format; ANSI
    * throws loudly if a deployment ever breaches it — production keeps
    * the decimal). One token explode + two hash aggs + a broadcast-sized
    * df join; ties resolve (score desc, token asc) so the winner is
    * deterministic cross-engine.
    */
  def q123_tfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .where(length(col("token")) > 0)
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    // df derives from tf (one row per (doc, token) already) — no second
    // corpus explode; ReuseExchange shares the tf shuffle between the
    // two consumers
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("__n"))
    val scored = tf.join(df, "token").crossJoin(n)
      // idf in long (≤1e6·N, holds to N ≤ 9e12 docs); tf·idf in decimal
      .withColumn("__idf", expr("(1000000 * __n) div df"))
      .withColumn("score",
        col("tf").cast("decimal(38,0)") * col("__idf").cast("decimal(38,0)"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("token").asc)
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("doc_id"), col("token").as("top_token"),
        col("score").cast("long").as("score_fp"))
  }

  /** Per-source document cap — crawl curation's "no domain dominates
    * the corpus" rule: keep the k highest-quality docs per source
    * (quality = q24's bit-parity-proven formula; ties doc_id asc).
    * Runs through the custom TopKPerGroup physical operator: bounded
    * per-partition heaps shuffle ≤ k rows/source/partition — a skewed
    * mega-domain costs its k survivors in shuffle volume, never its
    * full document list (the q85 df-cap argument, applied to ranking).
    */
  def q124_source_cap(s: SparkSession, dir: String): DataFrame = {
    val scored = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).as("__tc"),
        TextAnalysis.stopwordCount(col("text")).as("__sc"))
      .select(col("doc_id"), col("source"),
        qualityExpr(col("__tc"), col("__sc")).as("quality"))
    graft.plans.TopK.perGroup(scored, Seq("source"),
      Seq("quality" -> false, "doc_id" -> true), k = 25)
      .select("source", "doc_id", "quality")
  }

  /** OOV-rate vocabulary filter ([[TextAnalysis.oovStats]]) — keep
    * documents whose token occurrences fall at least 98% inside the
    * corpus-derived reference vocabulary (tokens with df >= 10% of
    * docs). The vocab is provably model-sized at any corpus scale
    * (<= avg-distinct-tokens-per-doc · 100/10 entries), so both joins
    * broadcast; the corpus streams through one explode and one per-doc
    * aggregation. Exact integer gate: n_oov·50 <= n_tokens. Thresholds
    * sized to the corpus so BOTH populations are live at every SF
    * (~97–98% keep, 11–117 dropped — a gate that drops nothing gates
    * nothing).
    */
  def q136_oov_filter(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.oovStats(t(s, dir, "documents"), "doc_id", "text", vocabPct = 10)
      .where(col("n_oov") * 50 <= col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"))

  /** Winnowing fingerprint extraction ([[Dedup.winnowingFingerprints]],
    * SIGMOD'03) through the oracle gate: the FULL (doc_id, fp) relation
    * — every k-gram rolling hash, every window minimum, every distinct
    * fingerprint — hash-compared against DuckDB replaying the identical
    * arithmetic (the q25 rolling-hash parity, lifted from whole-doc to
    * every gram). The pair-join stage on top is the q26 bucket shape;
    * its shared-substring guarantee is property-tested in OperatorsSpec
    * (this synthetic corpus's template sentences make pair thresholds
    * scale-dependent, so the extraction is the right gate surface).
    */
  def q137_winnowing(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowingFingerprints(t(s, dir, "documents"), "doc_id", "text")

  /** The winnowing candidate-pair stage ([[Dedup.winnowingPairs]])
    * through the oracle gate: df-capped fingerprint-bucket self-join +
    * shared-count threshold, replayed exactly by DuckDB — every stage
    * (extraction, the df <= 50 prune, the bucket join, n_shared >= 3)
    * is integer-deterministic, so the full pair relation hash-matches
    * whatever the corpus. (Threshold CALIBRATION on this template-heavy
    * synthetic corpus is scale-dependent — SCALE.md §Winnowing — but
    * the gate checks the computation, not the calibration.)
    */
  def q138_winnowing_pairs(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowingPairs(t(s, dir, "documents"), "doc_id", "text",
      maxDf = 50, minShared = 3)

  /** Bitext-mining candidates — parallel-corpus discovery: q138's
    * winnowing fingerprint pairs restricted to CROSS-LANGUAGE document
    * pairs (the shared-span evidence that two documents in different
    * languages carry the same content — template reuse, translations,
    * transcluded passages). Same df-capped bucket join; the lang join
    * rides the id keys of the (small) surviving pair set, so the
    * cross-language filter costs two broadcast-joinable lookups, not a
    * corpus shuffle.
    */
  def q160_bitext_candidates(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.winnowingPairs(t(s, dir, "documents"), "doc_id",
      "text", maxDf = 50, minShared = 3)
    val langs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
    pairs
      .join(langs.select(col("doc_id").as("id_a"), col("lang").as("lang_a")),
        "id_a")
      .join(langs.select(col("doc_id").as("id_b"), col("lang").as("lang_b")),
        "id_b")
      .where(col("lang_a") =!= col("lang_b"))
      .select(col("id_a"), col("id_b"), col("lang_a"), col("lang_b"),
        col("n_shared"))
  }

  /** Deterministic systematic PPS sample ([[Sampling.ppsSystematic]]):
    * up to 25 docs per language drawn proportional to token count —
    * long documents proportionally more likely, the
    * curriculum/eval-set draw that plain uniform sampling can't
    * express. Exact prefix-sum + cross-multiplied boundary arithmetic
    * (all-nonnegative div), replayed verbatim by the oracle's window
    * chain; one window shuffle keyed by lang.
    */
  def q140_pps_sample(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    Sampling.ppsSystematic(d, col("n_tokens"), col("doc_id"), k = 25,
      stratumCols = Seq(col("lang")))
  }

  /** Deterministic T5-style span corruption
    * ([[TextAnalysis.spanCorrupt]]): spans of 3 tokens, one span in 5
    * masked by the RNG-free multiplicative mix, (input, target)
    * denoising pairs with `<extra_N>` sentinels. Pure codegen'd
    * higher-order functions — ZERO shuffles at any corpus size; the
    * oracle replays the identical mix + string assembly in SQL.
    */
  def q141_span_corrupt(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.spanCorrupt(t(s, dir, "documents"), "doc_id", "text",
      spanWidth = 3, maskOneIn = 5)

  /** Per-source unigram drift vs the corpus blend
    * ([[TextAnalysis.unigramDrift]]): exact total-variation distance
    * over cross-multiplied integer counts — one (source, token) hash
    * aggregation, exchange-reused totals, broadcast rejoins.
    */
  def q142_unigram_drift(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramDrift(t(s, dir, "documents"), "source", "text")

  /** Span corruption AT INGEST: the q141 transform applied inside a
    * `readStream` microbatch pipeline (the q139/q120 stateless-map
    * shape) — denoising-pair generation as documents arrive, no state
    * store, no shuffle; the batch oracle is the authority because the
    * transform is per-row deterministic.
    */
  def q143_stream_span_corrupt(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val streamDir = docsStreamDir(s, dir)
    val schema = ParquetFooter.schema(s, streamDir)
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 4).parquet(streamDir)
    val pairs = TextAnalysis.spanCorrupt(stream, "doc_id", "text",
      spanWidth = 3, maskOneIn = 5)
    graft.streaming.Streams
      .runToCompletion(s, pairs, s"q143_sink_${System.nanoTime()}", "append")
      .select("doc_id", "input", "target", "n_tokens", "n_masked")
  }

  /** Frequency-ranked dictionary encoding
    * ([[TextAnalysis.vocabEncode]]): corpus vocabulary by
    * (count DESC, token ASC) rank, every document re-emitted as its
    * token-id sequence — model-sized vocab broadcast, corpus streams
    * through one explode + one per-doc aggregation.
    */
  def q144_vocab_encode(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabEncode(t(s, dir, "documents"), "doc_id", "text")

  /** Interval-overlap join with NO equi key
    * ([[IntervalJoin.overlapJoin]]): signup activity windows × purchase
    * activity windows on the time axis, grid-bucketed to a plain
    * equi-join on cell ids with the counting-cell dedup rule — no
    * cross join, no bnlj, no distinct. Interval widths vary per row
    * (120 + id mod 300 seconds) so cells genuinely multi-cover.
    */
  def q145_interval_overlap(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    def side(kind: String, idName: String, sName: String, eName: String) =
      ev.where(col("event_type") === kind)
        .select(col("event_id").as(idName),
          unix_timestamp(col("ts")).as(sName))
        .withColumn(eName,
          col(sName) + lit(120L) + pmod(col(idName), lit(300L)))
    val a = side("signup", "a_id", "s_a", "e_a")
    val b = side("purchase", "b_id", "s_b", "e_b")
    IntervalJoin.overlapJoin(a, b,
        col("s_a"), col("e_a"), col("s_b"), col("e_b"), binWidth = 512L)
      .groupBy("a_id")
      .agg(count(lit(1)).as("n_overlap"), min(col("b_id")).as("first_b"))
  }

  /** Schema evolution across parquet generations: generation 1 writes
    * (doc_id, lang), generation 2 adds n_chars; `mergeSchema` reads
    * both through one scan with the missing column null-filled — the
    * lakehouse column-add path. The oracle derives the same blend from
    * the source table (even ids are gen-1, odd gen-2).
    */
  def q146_schema_evolution(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val root = scratch("q146-evo", dir)
    docs.where(col("doc_id") % 2 === 0).select("doc_id", "lang")
      .write.mode("overwrite").parquet(s"$root/gen=1")
    docs.where(col("doc_id") % 2 === 1).select("doc_id", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$root/gen=2")
    s.read.option("mergeSchema", "true").parquet(s"$root/gen=1", s"$root/gen=2")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        count(col("n_chars")).as("n_v2"),
        sum(coalesce(col("n_chars"), lit(0L))).as("sum_chars"))
  }

  /** Sparse all-pairs TF-cosine similarity
    * ([[Similarity.sparseCosinePairs]]): the AP-SS similarity join —
    * candidates from df-capped inverted-index postings, dot products
    * in one pair aggregation, cosine threshold applied squared and
    * cross-multiplied so everything stays in exact integers (no sqrt,
    * no floats, per-document overflow envelope).
    *
    * The synthetic corpus draws every document from one 31-token
    * template vocabulary (every df scales with the corpus — no
    * rare-token structure for postings to exploit), so the gate runs
    * on a CONSTRUCTED near-dup overlay, the q93 augmentation
    * precedent: every 20th document gains a near-copy, and each
    * (original, copy) pair shares a unique `pt<id>` pairing token
    * (df = 2 at every SF) — candidates must flow through the df-capped
    * postings and survive the exact cosine verify; output scales
    * linearly with the corpus.
    */
  def q147_cosine_pairs(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val tagged = d.select(col("doc_id"),
      concat(col("text"), lit(" pt"), col("doc_id").cast("string")).as("text"))
    val copies = d.where(col("doc_id") % 20 === 0)
      .select((col("doc_id") + lit(1099511627776L)).as("doc_id"),
        concat(col("text"), lit(" pt"), col("doc_id").cast("string"),
          lit(" zz")).as("text"))
    Similarity.sparseCosinePairs(tagged.unionByName(copies),
      "doc_id", "text", maxDf = 20, minCos2Permille = 900)
  }

  /** Streaming CDC merge: the events stream consumed as a changelog
    * through `foreachBatch`, each microbatch compacted per key and
    * merged into the accumulated snapshot with
    * [[graft.operators.Merge.upsertLatest]] — survivor chosen by
    * (ts, event_id), NOT batch order, so the final state equals the
    * batch argmax no matter how the file source slices triggers (the
    * Delta-style `MERGE ... WHEN MATCHED AND s.ts > t.ts` loop,
    * expressed Spark-first). Snapshot lineage is truncated per batch
    * via localCheckpoint — state stays distributed; the driver holds
    * only a handle.
    */
  def q148_stream_cdc_merge(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val streamDir = eventsStreamDir(s, dir)
    val stream = graft.streaming.Streams
      .eventsStream(s, streamDir, maxFilesPerTrigger = 4)
      .select(col("user_id"), col("event_id"), col("ts"),
        cents(col("value")).as("value_c"))
    val orderCols = Seq(col("ts").desc, col("event_id").desc)
    var state = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        cents(col("value")).as("value_c"))
      .limit(0).localCheckpoint(true)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(orderCols: _*)
        val compacted = batch
          .withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1).drop("__rn")
        state = graft.operators.Merge
          .upsertLatest(state, compacted, Seq("user_id"), orderCols)
          .localCheckpoint(true)
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    state
  }

  /** Temperature-rebalanced multilingual sampling
    * ([[Sampling.temperatureSample]], α = 0.5): per-language quotas
    * ∝ √count over a 10%-of-corpus budget — low-resource languages
    * keep a larger share than raw frequency. Integer-sqrt quota
    * arithmetic + the q82 id mix; oracle replays quotas and ranks
    * verbatim.
    */
  def q149_temperature_sample(s: SparkSession, dir: String): DataFrame =
    Sampling.temperatureSample(t(s, dir, "documents"), "lang", "doc_id",
      budgetDiv = 10L)

  /** Snapshot reconciliation ([[TableDiff.diff]]): events vs a
    * deterministically mutated rebuild — deletes at id ≡ 0 (mod 101),
    * value updates at id ≡ 0 (mod 97), inserts at id ≡ 0 (mod 103) —
    * emitting only the delta. The shuffle carries (key, 8-byte hash)
    * regardless of row width; the oracle diffs by direct column
    * comparison (agrees with the hash form except on ~2⁻⁶⁴
    * collisions).
    */
  def q150_table_diff(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), cents(col("value")).as("value_c"))
    val b = ev.where(col("event_id") % 101 =!= 0)
      .withColumn("value_c",
        when(col("event_id") % 97 === 0, col("value_c") + 1L)
          .otherwise(col("value_c")))
      .unionByName(ev.where(col("event_id") % 103 === 0)
        .select((col("event_id") + lit(1000000000L)).as("event_id"),
          col("user_id"), col("value_c")))
    TableDiff.diff(ev, b, Seq("event_id"))
  }

  /** Bounded BFS ([[graft.operators.Graph.bfsHops]]): minimum hop
    * distance from low-key customers over the REPEAT-BUSINESS
    * customer–supplier graph — an edge needs ≥ 2 orders between the
    * pair, which keeps the graph frontier-sized instead of saturating
    * (the raw bipartite graph has average degree ~73 at sf0.1; the
    * repeat graph is ~45× sparser). Customer ids even, supplier ids
    * odd so the key spaces can't collide. Level-synchronous frontier
    * expansion, (dst, hop) shuffles only; the oracle replays it as a
    * DuckDB recursive CTE with UNION dedup.
    */
  def q151_bfs_hops(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
    val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
    val edges = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") >= 2)
      .select("src", "dst")
    val seeds = t(s, dir, "customer").where(col("c_custkey") <= 5)
      .select((col("c_custkey") * 2).as("seed"))
    graft.operators.Graph.bfsHops(edges, "src", "dst", seeds, "seed",
      maxHops = 3)
  }

  /** Declarative data-quality validation ([[Validate.validate]], the
    * Delta-constraint / dbt-test surface): all row-level checks fold
    * into ONE scan aggregation; uniqueness is one keyed agg; each
    * referential check is one anti-join. Mixed live populations by
    * construction: `unique(l_orderkey)` counts real multi-line orders
    * (non-zero), the quantity/price checks and both FKs hold (zero) —
    * zero rows are EMITTED, not absent, so a silent scan-drop can't
    * read as "all valid".
    */
  def q152_validate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Validate._
    val li = t(s, dir, "lineitem")
    validate(li, Seq(
      NotNull("l_orderkey"),
      Check("qty_range", col("l_quantity") >= 1 && col("l_quantity") <= 50),
      Check("price_positive", col("l_extendedprice") > 0),
      Unique(Seq("l_orderkey")),
      ForeignKey("l_orderkey", t(s, dir, "orders"), "o_orderkey"),
      ForeignKey("l_partkey", t(s, dir, "part"), "p_partkey")))
  }

  /** Streaming windowed NDV sketch under its error contract: per-day
    * HLL approx-distinct users computed INSIDE the microbatch engine
    * (watermarked tumbling windows, append mode — only finalized
    * windows emit), then joined to the batch exact counts; rows emit
    * ONLY where the estimate breaks the 15% contract (rsd 0.05 — the
    * q96 violations-as-rows pattern, streaming edition). HLL merge is
    * commutative/order-independent, so the stream's estimate is
    * reproducible across trigger slicings; the unemitted tail window
    * drops in the join.
    */
  def q153_stream_window_ndv(s0: SparkSession, dir: String): DataFrame = {
    // noDataBatches: this windowed agg runs APPEND-mode (unlike q38's
    // complete-mode), so windows only emit in a batch AFTER the
    // watermark passes them — with the whole 4-file tape arriving in
    // one data batch, skipping the trailing no-data batch emitted ZERO
    // windows and the violations gate was vacuously green (unable to
    // catch a broken HLL estimate)
    val s = streamSession(s0, noDataBatches = true)
    val streamDir = eventsStreamDir(s, dir)
    val est = graft.streaming.Streams.runToCompletion(s,
      graft.streaming.Streams.eventsStream(s, streamDir, maxFilesPerTrigger = 4)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day").as("w"))
        .agg(approx_count_distinct(col("user_id"), 0.05).as("approx_ndv")),
      s"q153_sink_${System.nanoTime()}", "append")
      .select(col("w.start").as("w_start"), col("approx_ndv"))
    val exact = t(s, dir, "events")
      .groupBy(date_trunc("DAY", col("ts")).as("w_start"))
      .agg(countDistinct(col("user_id")).as("exact_ndv"))
    est.join(exact, "w_start")
      .where(abs(col("approx_ndv") - col("exact_ndv")) >
        col("exact_ndv") * lit(0.15))
      .select(col("w_start"), col("exact_ndv"), col("approx_ndv"))
  }

  /** UniMax epoch repetition ([[Sampling.epochRepeat]]): √count quotas
    * over a 1.5×-corpus budget, so high-resource languages emit a
    * subset while low-resource languages REPEAT (epochs ≥ 2) — each
    * language contributes exactly its quota of training appearances,
    * with the repeat factor derived from the quota arithmetic rather
    * than hand-tuned.
    */
  def q154_epoch_repeat(s: SparkSession, dir: String): DataFrame =
    Sampling.epochRepeat(t(s, dir, "documents"), "lang", "doc_id",
      budgetNum = 3L, budgetDen = 2L)

  /** Hard-negative mining ([[Similarity.hardNegatives]]): for each
    * anchor, the 3 most-similar DIFFERENT-label vectors — the
    * contrastive-training pair generator, q30's broadcast/TopK shape
    * with the label-mismatch predicate on the join. Rank-only output
    * (both engines rank the identical sequential-fold cosine).
    */
  def q155_hard_negatives(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.hardNegatives(e.where(col("vec_id") < 32), e,
      "vec_id", "embedding", "label", k = 3)
      .withColumnRenamed("rank", "rnk")
  }

  /** Streaming windowed top-k: per-(hour, event type) counts computed
    * INSIDE the microbatch engine (complete mode, the q38 contract),
    * then the custom [[graft.plans.TopKPerGroup]] physical operator
    * ranks the 3 busiest types per window — a streaming aggregation
    * feeding a custom bounded-heap operator in one pipeline (the
    * "trending now" leaderboard shape). Keyed by type, not user: the
    * leaderboard dimension should be category-sized (state = windows ×
    * types); per-user leaderboards belong to the q124 batch cap or a
    * sketch, not complete-mode streaming state.
    */
  def q156_stream_window_topk(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val streamDir = eventsStreamDir(s, dir)
    val stream = graft.streaming.Streams
      .eventsStream(s, streamDir, maxFilesPerTrigger = 4)
    val counts = stream
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))
    val all = graft.streaming.Streams
      .runToCompletion(s, counts, s"q156_sink_${System.nanoTime()}", "complete")
    graft.plans.TopK.perGroup(all, Seq("w_start"),
      Seq("n" -> false, "event_type" -> true), 3)
      .select("w_start", "event_type", "n")
  }

  /** Winsorization — the robust-stats APPLICATION step (q131 detects
    * outliers; this clamps them): per event type, values clip to the
    * exact 5th/95th ORDER STATISTICS (k = 1 + (n−1)·p div 100, the
    * k-th smallest value — no interpolation, so both engines agree on
    * integer cents without float percentile semantics). One rank
    * window per type (the q140 per-stratum posture), threshold rows
    * broadcast back, one final aggregation. Output per type: n,
    * thresholds, raw vs winsorized sums, clip count.
    */
  def q157_winsorize(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_type"), col("event_id"), cents(col("value")).as("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("v").asc, col("event_id").asc)
    val ranked = ev.withColumn("__rk", row_number().over(w))
    val counts = ev.groupBy("event_type").agg(count(lit(1)).as("__n"))
    val thresholds = ranked
      .join(broadcast(counts), "event_type")
      .where(col("__rk") === expr("1 + ((__n - 1) * 5) div 100") ||
        col("__rk") === expr("1 + ((__n - 1) * 95) div 100"))
      .groupBy("event_type")
      .agg(min(col("v")).as("p_lo"), max(col("v")).as("p_hi"))
    ev.join(broadcast(thresholds), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        min(col("p_lo")).as("p_lo"), min(col("p_hi")).as("p_hi"),
        sum(col("v")).as("sum_raw"),
        sum(greatest(least(col("v"), col("p_hi")), col("p_lo")))
          .as("sum_wins"),
        sum(when(col("v") < col("p_lo") || col("v") > col("p_hi"), 1L)
          .otherwise(0L)).as("n_clipped"))
  }

  /** Time-decayed engagement score — recency weighting with EXACT
    * arithmetic: weight = 2^20 div 2^age_days (a power-of-two decay,
    * so fixed-point division is exact in both engines — float
    * exp(-λt) would never hash-match). Age anchors to the corpus max
    * timestamp (1-row broadcast, the q123 count-literal shape);
    * weights zero out past 20 days — the natural horizon of a halving
    * decay. Map-only scoring + one aggregation per user.
    */
  def q158_time_decay(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("ts"), cents(col("value")).as("v"))
    val anchor = ev.agg(max(to_date(col("ts"))).as("__d0"))
    ev.join(broadcast(anchor))
      .withColumn("__age", datediff(col("__d0"), to_date(col("ts"))))
      .withColumn("__wt",
        expr("CASE WHEN __age > 20 THEN 0L " +
          "ELSE 1048576L div shiftleft(1L, __age) END"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("v") * col("__wt")).as("decayed_c"),
        sum(when(col("__wt") > 0, 1L).otherwise(0L)).as("n_in_horizon"))
  }

  /** k-anonymity audit — the privacy complement of q114's PII scrub:
    * group documents by their quasi-identifier tuple (lang, source,
    * length band) and surface every equivalence class smaller than
    * k = 5 — the classes where a scrubbed document could still be
    * re-identified by its metadata. One map-side-combined aggregation;
    * output is bounded by the quasi-identifier domain, not the corpus.
    */
  def q159_k_anonymity(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("lang"), col("source"),
        expr("n_chars div 100").as("len_band"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") < 5)

  /** Deterministic per-epoch training order: each epoch gets a
    * DECORRELATED, reproducible shuffle of the corpus — order_key =
    * the q82 multiplicative mix over (doc_id, epoch), so epoch 2's
    * order shares nothing with epoch 1's beyond the seed, yet every
    * re-run (and every straggler retry) produces the identical
    * permutation. Map-only + a 3-way epoch explode, ZERO shuffles —
    * the training sink sorts on order_key at write time
    * (repartitionByRange), which is where a total order belongs at
    * 100 TB, not in a driver-side rank.
    */
  def q161_epoch_order(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), explode(expr("sequence(1L, 3L)")).as("epoch"))
      .withColumn("order_key",
        pmod((col("doc_id") % lit(1000000000L) + col("epoch") * lit(131L))
          * lit(2654435761L), lit(1000000007L)))

  /** Dynamic partition pruning — the star-join runtime optimization
    * q133's STATIC pruning can't express: the fact side (events
    * partitioned by day) carries no literal date predicate; the
    * pruning values only exist after filtering the DIM side (a derived
    * date dimension filtered to Mondays), so Catalyst injects a
    * runtime `dynamicpruning` subquery into the fact scan and whole
    * partitions skip AT EXECUTION. At 100 TB this is the difference
    * between scanning 1/7th and scanning everything — for free, from
    * the declarative plan. The day-partitioned layout is STAGED once
    * per process ([[stageDppLayout]], the stageStreamSource pattern —
    * a production DPP join reads an existing partitioned table), so
    * the query body is the pure pruned read + join with no storage
    * side effect (r7 verdict #4); the oracle states the join result
    * from the source table.
    */
  def q162_dynamic_pruning(s: SparkSession, dir: String): DataFrame = {
    val fact = s.read.parquet(dppFactDir(s, dir))
    // derived date dimension; dayofweek is the dim attribute the fact
    // side knows nothing about
    val dim = t(s, dir, "events")
      .select(to_date(col("ts")).as("d")).distinct()
      .withColumn("dow", dayofweek(col("d")))
      .where(col("dow") === 2) // Mondays
    fact.join(dim, "d")
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
      .select(col("d").cast("timestamp").as("d"), col("n"), col("sum_v"))
  }

  /** Time-interval RANGE window frame — the frame class q57's
    * rows-based frames can't express: each event's trailing-hour
    * activity (sum + count over `RANGE BETWEEN INTERVAL 1 HOUR
    * PRECEDING AND CURRENT ROW` ordered by event TIME, so the frame
    * adapts to event density instead of counting rows). One window
    * shuffle on user_id; exact integer cents inside the frame.
    */
  def q163_time_range_frame(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        cents(col("value")).as("v"))
    ev.createOrReplaceTempView("__q163_ev")
    s.sql("""
      SELECT event_id, user_id,
             sum(v) OVER w AS hour_sum_c,
             count(*) OVER w AS hour_n
      FROM __q163_ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """)
  }

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM) — the join
    * semantics a naive `=` silently breaks on nullable keys (NULL = NULL
    * is NULL, so null-keyed rows vanish). Keys are NULLified
    * deterministically (the q134 corruption rule); the null-safe join
    * matches the NULL group to itself, and the output counts prove both
    * populations: real keys match 1:1, the null bucket matches
    * n_null × n_null.
    */
  def q164_nullsafe_join(s: SparkSession, dir: String): DataFrame = {
    // NULLify sparsely (mod 997): the null bucket self-matches
    // quadratically BY DESIGN, so its population must stay small while
    // remaining live at every SF
    val o = t(s, dir, "orders")
      .select(when(col("o_orderkey") % 997 === 0, lit(null))
        .otherwise(col("o_orderkey")).as("k"))
    val a = o.select(col("k").as("ka"))
    val b = o.select(col("k").as("kb"))
    a.join(b, col("ka") <=> col("kb"))
      .groupBy(col("ka").isNull.as("is_null_bucket"))
      .agg(count(lit(1)).as("n_matches"))
  }

  /** Spark 4 VARIANT ingestion — the semi-structured path BESIDE
    * schema-on-read (q36's from_json needs the schema up front;
    * VARIANT defers it to access time, the open-schema lakehouse
    * pattern): `parse_json` the props payload once, extract typed
    * fields lazily with `variant_get`, aggregate. The oracle replays
    * with DuckDB's JSON extraction — same values, schema-free on both
    * sides.
    */
  def q165_variant(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'long')").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"))

  /** LATERAL correlated subquery — the per-row subquery surface
    * (Spark 3.4+): each low-key customer drives its own ordered+limited
    * scan of orders ("this customer's top 2 orders"), expressed exactly
    * as the SQL standard writes it. Catalyst decorrelates the lateral
    * into a ranked join under the hood — same plan family as q56's
    * TopKPerGroup, arrived at from declarative SQL.
    */
  def q166_lateral_topk(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("__q166_c")
    t(s, dir, "orders").createOrReplaceTempView("__q166_o")
    s.sql(s"""
      SELECT c.c_custkey, o.o_orderkey, o.price_c
      FROM __q166_c c
      JOIN LATERAL (
        SELECT o_orderkey, ${"CAST(round(o_totalprice*100) AS BIGINT)"} AS price_c
        FROM __q166_o
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2) o
      WHERE c.c_custkey <= 50
    """)
  }

  /** Spark 4 COLLATION-aware grouping: the lang code is re-cased
    * deterministically (even doc ids upper-case it), then grouped
    * under `UTF8_LCASE` collation — case-insensitive semantics from
    * the TYPE, not from wrapping every expression in lower() (the
    * collation survives joins/sorts/aggregations wherever the column
    * flows). The oracle states the same groups via lower().
    */
  def q167_collation(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("lang_cased",
        when(col("doc_id") % 2 === 0, upper(col("lang")))
          .otherwise(col("lang")))
      .groupBy(expr("collate(lang_cased, 'UTF8_LCASE')").as("lang_ci"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang_cased")).as("n_casings"))
      .select(lower(col("lang_ci")).cast("string").as("lang"),
        col("n_docs"), col("n_casings"))

  /** Gopher-style quality-rule audit (Rae et al. 2021 §A1.1): four
    * integer-exact document rules ([[TextAnalysis.gopherFlags]] — word
    * count, distinct-token repetition, mean word length, stopword
    * presence) evaluated per doc and rolled up per source. The entire
    * rule battery folds into ONE scan + one 20-group aggregate: zero
    * extra shuffles, every rule a codegen'd HOF over the token array.
    * Every rule's fail branch is live at every SF (probed).
    */
  def q168_gopher_quality(s: SparkSession, dir: String): DataFrame = {
    val flag = (c: Column) => sum(when(c, 1L).otherwise(0L))
    t(s, dir, "documents")
      .select(col("source"),
        TextAnalysis.gopherFlags(col("text")).as("g"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        flag(col("g.too_short")).as("n_short"),
        flag(col("g.repetitive")).as("n_repetitive"),
        flag(col("g.long_words")).as("n_long_words"),
        flag(col("g.low_stopword")).as("n_low_stopword"),
        flag(!col("g.too_short") && !col("g.repetitive") &&
          !col("g.long_words") && !col("g.low_stopword")).as("n_pass"))
  }

  /** Gopher's REPETITION rule family: fraction of characters covered by
    * the most frequent word 2-gram per document (the "top n-gram
    * fraction" filter — catches boilerplate loops n-gram-level dedup
    * misses). Coverage is `max over bigrams of count*strlen(bigram)` —
    * taking the max of the PRODUCT (not the max count with a tiebreak)
    * keeps the result deterministic under count ties with no ordering
    * dependence. Flag when coverage > 15% of chars, cross-multiplied.
    * Two keyed shuffles — (doc_id, bigram) counts with map-side
    * combine, then doc_id — both carrying counts, never documents; at
    * 100 TB the bigram key could be hashed to 8 bytes (q117's trick)
    * but is kept raw here because strlen(bigram) rides the same row.
    */
  def q169_top_bigram(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), length(col("text")).as("nc"),
        TextAnalysis.tokens(col("text")).as("tk"))
    val bigrams = docs.select(col("doc_id"), col("source"), col("nc"),
      explode(zip_with(
        slice(col("tk"), lit(1), greatest(size(col("tk")) - 1, lit(0))),
        slice(col("tk"), lit(2), greatest(size(col("tk")) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))).as("bg"))
    bigrams
      .groupBy("doc_id", "source", "nc", "bg")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "source", "nc")
      .agg(max(col("c") * length(col("bg"))).as("covered"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("covered") * 20 > col("nc") * 3, 1L).otherwise(0L))
          .as("n_repetitive"),
        max(expr("covered * 1000000 div nc")).as("max_cov_ppm"))
  }

  /** Spark 4 LISTAGG — ordered string aggregation `WITHIN GROUP
    * (ORDER BY ...)`, the SQL:2016 surface (DuckDB replays it as
    * `string_agg(... ORDER BY ...)`). The explicit ORDER BY inside the
    * aggregate is what makes a concatenated string deterministic and
    * therefore hash-checkable — an unordered listagg would be
    * partition-order-dependent. Keyed to a bounded slice so the output
    * strings stay row-sized at every SF.
    */
  def q170_listagg(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").where(col("o_orderkey") <= 300)
      .createOrReplaceTempView("__q170_o")
    s.sql("""
      SELECT o_orderstatus,
             listagg(CAST(o_orderkey AS STRING), ',')
               WITHIN GROUP (ORDER BY o_orderkey) AS keys,
             count(*) AS n
      FROM __q170_o GROUP BY o_orderstatus""")
  }

  /** UNPIVOT — wide-to-long relational reshaping (the inverse of q103's
    * pivot): per-nation metrics computed once as a wide row, then
    * unpivoted with Spark's native UNPIVOT clause into (key, metric,
    * value) triples. The oracle states the same reshape as a UNION ALL
    * so the semantics are pinned engine-independently. All metrics are
    * BIGINT (exact cents) — UNPIVOT requires a common value type.
    */
  def q171_unpivot(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_cust"),
        sum(cents(col("c_acctbal"))).as("sum_bal_c"),
        max(cents(col("c_acctbal"))).as("max_bal_c"))
      .createOrReplaceTempView("__q171_w")
    s.sql("""
      SELECT c_nationkey, metric, val
      FROM __q171_w
      UNPIVOT (val FOR metric IN (n_cust, sum_bal_c, max_bal_c))""")
  }

  /** l-diversity audit — the companion privacy gate to q159's
    * k-anonymity: a quasi-identifier class can be large (k-anonymous)
    * yet still leak if its SENSITIVE attribute is near-constant.
    * Classes = (nation, account-balance band in exact cents — banding
    * on cents avoids the double→bigint cast, which ROUNDS in DuckDB
    * but TRUNCATES in Spark; the +100000 shift keeps the dividend
    * nonnegative, where Spark `div` and DuckDB `//` agree — balances
    * go down to -1000.00); sensitive = market segment; report
    * classes with fewer than 4 distinct segment values. One keyed agg;
    * output is audit-sized.
    */
  def q172_l_diversity(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .withColumn("__c", cents(col("c_acctbal")) + lit(100000L))
      .groupBy(col("c_nationkey"), expr("__c div 100000").as("bal_band"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("c_mktsegment")).as("l"))
      .where(col("l") < 4)

  /** URL/domain-level corpus statistics — the curation axis web-scale
    * pipelines filter on (domain blocklists, per-host caps). URLs are
    * derived deterministically in-plan (the corpus carries none — same
    * convention as q114's PII derivation), then round-tripped through
    * Spark's native `parse_url` HOST/PATH extraction; the oracle
    * rebuilds host/lang directly from the source columns, so the gate
    * verifies parse_url actually inverts the construction. Map-only +
    * one 20-group agg, zero extra shuffles.
    */
  def q173_domain_stats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(concat(lit("https://"), col("source"), lit(".example.com/"),
        col("lang"), lit("/doc-"), col("doc_id")).as("url"))
      .select(expr("parse_url(url, 'HOST')").as("host"),
        expr("split_part(parse_url(url, 'PATH'), '/', 2)").as("lang"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"))

  /** BM25 ranked retrieval (Robertson-Spärck Jones) in EXACT integer
    * arithmetic — the search-side counterpart of q123's TF-IDF and the
    * q85 inverted index. Log-free rational variant: idf is the raw RSJ
    * odds ratio (2N−2df+1)/(2df+1) (doubled to stay integral; monotone
    * in the classic log idf, so per-term ordering is preserved), and
    * the k1=1.2 / b=0.75 saturation term is cross-multiplied to the
    * common denominator 20·T:
    *
    *   tf_part = 44·tf·T / (20·tf·T + 6·T + 18·dl·N)     (T = Σ dl)
    *
    * Scores scale by 10⁶ and divide in decimal(38,0)/HUGEINT (the
    * overflow envelope: the numerator reaches ~2.6e20 at sf1). Query
    * terms are literals, so scoring is MAP-ONLY over a 1-row broadcast
    * stats join (the q123 count-literal shape) — no inverted-index
    * shuffle for a 3-term query; top-10 via TakeOrderedAndProject
    * (per-partition heaps, never a full sort).
    */
  def q174_bm25(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("dup", "vector", "merge")
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        TextAnalysis.tokenCount(col("text")).as("dl"))
    val dfAggs = terms.zipWithIndex.map { case (w, i) =>
      sum(when(TextAnalysis.wordOccurrences(col("text"), w) > 0, 1L)
        .otherwise(0L)).as(s"__df_$i")
    }
    val stats = docs.agg(count(lit(1)).as("__n"),
      (sum(col("dl")).as("__t") +: dfAggs): _*)
    val withTf = terms.zipWithIndex
      .foldLeft(docs.crossJoin(broadcast(stats))) { case (d, (w, i)) =>
        d.withColumn(s"__tf_$i",
          TextAnalysis.wordOccurrences(col("text"), w))
      }
    def dec(e: String) = s"CAST($e AS DECIMAL(38,0))"
    val scoreTerms = terms.indices.map { i =>
      s"""CAST((${dec("1000000")} * ${dec(s"2*__n - 2*__df_$i + 1")}
           * ${dec("44")} * ${dec(s"__tf_$i")} * ${dec("__t")})
          div (${dec(s"2*__df_$i + 1")}
           * (${dec("20")} * ${dec(s"__tf_$i")} * ${dec("__t")}
              + ${dec("6")} * ${dec("__t")}
              + ${dec("18")} * ${dec("dl")} * ${dec("__n")})) AS BIGINT)"""
    }
    withTf
      .withColumn("score", expr(scoreTerms.mkString("(", " + ", ")")))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
      .select("doc_id", "score")
  }

  /** Spark 4 RECURSIVE CTE (`WITH RECURSIVE`, the UnionLoop plan) —
    * iterative SQL without leaving the declarative surface. The
    * hierarchy is the implicit binary heap over customer keys
    * (parent(k) = k div 2, root = 1), so the recursion is data-driven
    * (each level joins the full customer table against the previous
    * frontier) but its result is analytically checkable: level d holds
    * exactly the customer keys in [2^d, 2^(d+1)). ~log2(|customer|)
    * iterations; each iteration is one equi-join shuffle of the
    * frontier — the same level-synchronous shape as
    * [[graft.operators.Graph.bfsHops]], here expressed entirely in SQL
    * and driven by Catalyst's UnionLoop execution rather than a
    * hand-rolled driver loop. DuckDB runs the identical recursion.
    */
  def q175_recursive_cte(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("__q175_c")
    s.sql("""
      WITH RECURSIVE h(ck, depth) AS (
        SELECT CAST(1 AS BIGINT) AS ck, CAST(0 AS BIGINT) AS depth
        UNION ALL
        SELECT c.c_custkey, h.depth + 1
        FROM __q175_c c JOIN h ON c.c_custkey DIV 2 = h.ck)
      SELECT depth, count(*) AS n_nodes,
             min(ck) AS min_key, max(ck) AS max_key
      FROM h GROUP BY depth""")
  }

  /** Exact triangle counting ([[Graph.triangleCounts]]) over the
    * supplier co-purchase graph: suppliers are adjacent when they
    * appear together in >= 8 distinct orders — the cohesive-community
    * signal (a triangle = three suppliers who each pairwise share
    * repeat business). Degree-oriented wedge counting bounds the
    * out-degree at O(sqrt m) after orientation, so no hub vertex owns a
    * quadratic wedge set at any scale; the per-order supplier pair
    * expansion is basket-collected (one shuffle, then a local
    * explosion bounded by order size — ~4 lineitems). The oracle
    * replays the canonical a<b<c three-way self-join — a different
    * algorithm (id-oriented enumeration) that must produce the
    * identical per-vertex counts.
    */
  def q176_triangles(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
    // Basket-collect pair build: ONE corpus shuffle (groupBy orderkey
    // with map-side partial collect_set) and the quadratic pair
    // expansion happens locally AFTER the shuffle, bounded by basket
    // size — the self-join form shuffled lineitem twice and pushed the
    // per-order pair explosion through the join itself. collect_set
    // dedups within the order, so each (order, pair) appears once and
    // the co-occurrence count below is distinct-orders by construction.
    val pairs = li.groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_suppkey")).as("__sps"))
      .select(explode(col("__sps")).as("sa"), col("__sps"))
      .select(col("sa"), explode(col("__sps")).as("sb"))
      .where(col("sa") < col("sb"))
      .select(col("sa").as("lo"), col("sb").as("hi"))
    val edges = pairs.groupBy("lo", "hi").agg(count(lit(1)).as("__n"))
      .where(col("__n") >= 8)
      .select("lo", "hi")
    Graph.triangleCounts(edges, "lo", "hi")
      .select(col("id").as("s_suppkey"), col("n_tri"))
  }

  /** PMI collocation mining — the corpus-linguistics signal behind
    * phrase vocabularies and tokenizer merge rules: bigrams whose
    * observed frequency beats the independence expectation. Ranked by
    * the EXACT pointwise-mutual-information ratio
    * p(w1 w2) / (p(w1)·p(w2)) = (c12/N) / ((c1/T)(c2/T)), scaled to
    * ppm and evaluated entirely in decimal(38,0) cross-multiplication
    * (log is monotone — ranking by the ratio IS ranking by PMI, with
    * no float in sight). One bigram agg + one unigram agg; the unigram
    * table joins back twice UNHINTED (vocab-sized: stats/AQE broadcast
    * it while the vocabulary is small and re-plan when Heap's-law
    * growth makes a forced broadcast a driver hazard — see the inline
    * note), corpus totals ride 1-row broadcast joins. Floor 5
    * occurrences kills hapax-pair noise.
    */
  def q177_pmi_bigrams(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
    val uni = toks.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val bg = toks.where(size(col("tk")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(tk)-1), i -> struct(tk[i-1] AS w1, tk[i] AS w2))")).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
    val tTok = uni.agg(sum(col("c")).as("t_tok"))
    val nBig = bg.agg(sum(col("n_pair")).as("n_big"))
    def dec(e: String) = s"CAST($e AS DECIMAL(38,0))"
    bg.where(col("n_pair") >= 5)
      // NO broadcast hint on the vocab-sized unigram joins (the q187
      // class): vocabulary grows with the corpus (Heap's law), so a
      // forced broadcast becomes a driver hazard at scale — stats/AQE
      // broadcast it at bench SF (plan unchanged) and re-plan by
      // runtime size where the vocab is large. The 1-row corpus
      // totals keep their hints: they can never grow. NOTE (ADVICE
      // r13): the small-scale broadcast therefore DEPENDS on
      // spark.sql.adaptive.enabled (Spark's default, asserted by the
      // bench harness); a session that disables AQE runs these as
      // shuffle joins — correct, just the large-corpus plan early.
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .join(broadcast(tTok)).join(broadcast(nBig))
      .withColumn("score_ppm", expr(
        s"""CAST((${dec("1000000")} * ${dec("n_pair")} * ${dec("t_tok")} * ${dec("t_tok")})
            div (${dec("n_big")} * ${dec("c1")} * ${dec("c2")}) AS BIGINT)"""))
      .orderBy(col("score_ppm").desc, col("w1"), col("w2"))
      .limit(20)
      .select("w1", "w2", "n_pair", "score_ppm")
  }

  /** Positional phrase search ([[InvertedIndex.phraseMatches]]): every
    * document containing the exact consecutive phrase "table hash",
    * with its occurrence count and first 0-based hit position. The
    * engine answers it the INDEX way — per-token positional postings
    * intersected by (doc, pos + offset) equi-joins, corpus never
    * shuffles — while the oracle answers it the SCAN way (per-doc list
    * arithmetic); the two must agree row-for-row.
    */
  def q178_phrase_search(s: SparkSession, dir: String): DataFrame =
    InvertedIndex.phraseMatches(
        t(s, dir, "documents"), "doc_id", "text", Seq("table", "hash"))
      .groupBy(col("__doc_id").as("doc_id"))
      .agg(count(lit(1)).as("n_hits"),
        min(col("__pos")).cast("long").as("first_pos"))

  /** File-level zone-map pruning ([[graft.core.ZoneMap]]) — the
    * lakehouse data-skipping layer: lineitem range-clustered on
    * l_shipdate into 16 files with a per-file (lo, hi) sidecar, then a
    * 6-month probe reads ONLY the files whose zone intersects (the
    * prune consults the files-sized stats table, never data;
    * ZoneMapSpec pins that most files skip). The row-level predicate
    * still applies after the pruned read — zones are file-granular.
    * WRITE-PATH query (the write is the operator, like q94/q107/q133);
    * the oracle states the identity on the source slice.
    */
  def q179_zonemap_prune(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
    val path = scratch("q179-zonemap", dir)
    graft.core.ZoneMap.write(li, path, "l_shipdate", numFiles = 16)
    val lo = lit("1997-01-01 00:00:00").cast("timestamp")
    val hi = lit("1997-06-30 23:59:59").cast("timestamp")
    graft.core.ZoneMap.prunedRead(s, path, lo, hi)
      .where(col("l_shipdate").between(lo, hi))
      .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
  }

  /** Snapshot-to-snapshot diff through the txn layer: what did txn 2
    * change? [[graft.txn.TxnTable.readAsOf]] reconstructs both
    * immutable tape prefixes (q126's time travel) and
    * [[TableDiff.diff]] reconciles them by (key, row-hash) — the
    * map-side hash projection means the diff of two 100 TB snapshots
    * shuffles ~16 bytes/row. On this tape txn 2 appends the
    * o_orderkey % 3 == 1 slice, so every diff row is an `only_b`
    * arrival; the oracle replays the tape algebra directly from the
    * construction rule.
    */
  def q180_txn_diff(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("q180", dir)
    val root = java.nio.file.Paths.get(tmp)
    val marker = root.resolve("_graft_built")
    if (!java.nio.file.Files.exists(marker)) {
      deleteRecursively(root, strict = true)
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val table = new graft.txn.TxnTable(s, tmp)
      val t1 = table.txns.startTxn()
      table.insert(t1, orders.where(col("o_orderkey") % 3 === 0))
      table.txns.commitTxn(t1)
      val t2 = table.txns.startTxn()
      table.insert(t2, orders.where(col("o_orderkey") % 3 === 1))
      table.txns.commitTxn(t2)
      java.nio.file.Files.createFile(marker)
    }
    val table = new graft.txn.TxnTable(s, tmp)
    TableDiff.diff(table.readAsOf(1L), table.readAsOf(2L),
      Seq("o_orderkey"))
  }

  /** Linear multi-touch attribution — the marketing/credit-assignment
    * pipeline: each purchase splits 10^6 ppm of credit EQUALLY (integer
    * floor division; both engines floor identically) across the same
    * user's clicks in the strictly-preceding 7 days. The join is
    * user-keyed with the time window as a post-filter, so it shuffles
    * by user exactly once; per-user event counts bound the pair
    * expansion (the q145 grid-bucketed interval join is the path for
    * heavy-tailed users). Output: per-click totals — the content of a
    * "which touchpoints earn credit" report.
    */
  def q181_attribution(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("pe"), col("user_id"), col("ts").as("pts"))
    val c = ev.where(col("event_type") === "click")
      .select(col("event_id").as("ce"), col("user_id"), col("ts").as("cts"))
    val pair = p.join(c, "user_id")
      .where(col("cts") < col("pts") &&
        col("cts") >= col("pts") - expr("INTERVAL 7 DAYS"))
    val perPurchase = pair.groupBy("pe").agg(count(lit(1)).as("n_touch"))
    pair.join(perPurchase, "pe")
      .withColumn("credit", expr("1000000 div n_touch"))
      .groupBy(col("ce").as("click_id"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("credit")).as("credit_ppm"))
  }

  /** Chi-square association between lang and source — the dataset-audit
    * statistic ("is language independent of crawl source?") computed as
    * exact per-cell contributions: contrib_ppm =
    * (10^6 · (O·N − R·C)²) div (R·C·N) in decimal(38,0)/HUGEINT (the
    * χ² term (O−E)²/E cross-multiplied to integers; no float ever).
    * One cells aggregation, then margins via window sums OVER THE CELLS
    * TABLE (vocab-sized, |langs|×|sources| rows) — the corpus is
    * touched exactly once.
    */
  def q182_chi2_assoc(s: SparkSession, dir: String): DataFrame = {
    val cells = t(s, dir, "documents")
      .groupBy("lang", "source").agg(count(lit(1)).as("n_obs"))
    val wl = Window.partitionBy("lang")
    val ws = Window.partitionBy("source")
    val wAll = Window.partitionBy()
    def dec(e: String) = s"CAST($e AS DECIMAL(38,0))"
    cells
      .withColumn("r_tot", sum(col("n_obs")).over(wl))
      .withColumn("c_tot", sum(col("n_obs")).over(ws))
      .withColumn("n_tot", sum(col("n_obs")).over(wAll))
      .withColumn("__d", expr(
        s"${dec("n_obs")} * ${dec("n_tot")} - ${dec("r_tot")} * ${dec("c_tot")}"))
      .withColumn("contrib_ppm", expr(
        s"""CAST((${dec("1000000")} * __d * __d)
                div (${dec("r_tot")} * ${dec("c_tot")} * ${dec("n_tot")})
             AS BIGINT)"""))
      .select("lang", "source", "n_obs", "contrib_ppm")
  }

  /** MinHash estimation-error contract — the q95/q96/q122 pattern
    * applied to the dedup sketch itself: for every LSH candidate pair,
    * the 128-permutation signature estimate m/128 must sit within 0.35
    * of the EXACT shingle Jaccard i/u (≈8σ at 128 perms — a real
    * permutation-hash bug, not noise, is what breaks it). The
    * comparison is all-integer cross-multiplication
    * (|100·m·u − 12800·i| vs 35·128·u); violations return as rows and
    * the oracle states the contract holds (empty relation). Exact set
    * arithmetic runs ONLY inside candidate pairs — the certification
    * cost scales with candidates, never n².
    */
  def q183_minhash_error(s: SparkSession, dir: String): DataFrame = {
    val numHashes = 128
    val docs = t(s, dir, "documents").where(col("doc_id") < 200)
    val cands = Dedup.minHashCandidates(docs, "doc_id", "text",
      numHashes = numHashes, bands = 32, shingleWidth = 3)
    val sigs = docs.select(col("doc_id").as("__id"),
      Dedup.minHashSignature(Dedup.shingles(col("text"), 3), numHashes).as("__sig"),
      // array_sort once per row: the per-pair intersection below runs
      // the allocation-free sorted two-pointer count (r17; i unchanged)
      array_sort(Dedup.shingles(col("text"), 3)).as("__sh")) // shingles are already distinct
    cands
      .join(sigs.select(col("__id").as("id_a"), col("__sig").as("sig_a"),
        col("__sh").as("sh_a")), Seq("id_a"))
      .join(sigs.select(col("__id").as("id_b"), col("__sig").as("sig_b"),
        col("__sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).as("m"),
        graft.functions.exprs.sortedIntersectCount(
          col("sh_a"), col("sh_b")).as("i"),
        (size(col("sh_a")) + size(col("sh_b"))).cast("long").as("ab"))
      .withColumn("u", col("ab") - col("i"))
      .where(abs(col("m") * col("u") * 100 - lit(12800L) * col("i")) >
        lit(35L * 128L) * col("u"))
      .select("id_a", "id_b")
  }

  /** Pareto frontier ([[Skyline.skyline2D]]): the price/size-efficient
    * parts — no other part is both cheaper and at-least-as-big (or
    * as-cheap and strictly bigger). The engine runs the DISTRIBUTIVE
    * two-phase sweep (per-partition spillable sort + streaming pass,
    * then the same pass over the union of frontier-sized local
    * skylines — no global sort anywhere); the oracle states dominance
    * directly as NOT EXISTS. Points are pre-aggregated to distinct
    * (price_c, size) with multiplicity, per the operator contract.
    */
  def q184_skyline(s: SparkSession, dir: String): DataFrame = {
    val pts = t(s, dir, "part")
      .groupBy(cents(col("p_retailprice")).as("price_c"),
        col("p_size").cast("long").as("size"))
      .agg(count(lit(1)).as("n_parts"), min(col("p_partkey")).as("min_partkey"))
    Skyline.skyline2D(pts, "price_c", "size")
  }

  /** Exact quantile-rank normalization — the rank-based feature
    * transform (quantile scaling) with NO global sort: per-value counts
    * aggregate once, the "how many rows are strictly smaller" table is
    * a window over DISTINCT VALUES (values-sized, the q116 histogram
    * discipline), and rows join back to their rank by value.
    * pr_ppm = #smaller · 10⁶ div (n − 1) is percent_rank in exact
    * integer arithmetic — bit-identical across engines, which
    * float percent_rank() could never guarantee.
    */
  def q185_rank_normalize(s: SparkSession, dir: String): DataFrame = {
    val v = t(s, dir, "orders")
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"))
    val counts = v.groupBy("price_c").agg(count(lit(1)).as("__c"))
    val wv = Window.orderBy("price_c")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranks = counts
      .withColumn("__smaller", coalesce(sum(col("__c")).over(wv), lit(0L)))
    val n = v.agg(count(lit(1)).as("__n"))
    v.where(col("o_orderkey") <= 1000)
      .join(ranks.select(col("price_c"), col("__smaller")), "price_c")
      .join(broadcast(n))
      .withColumn("pr_ppm", expr("__smaller * 1000000 div (__n - 1)"))
      .select("o_orderkey", "price_c", "pr_ppm")
  }

  /** Per-group least-squares regression slope in EXACT arithmetic:
    * slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) over (quantity → price
    * cents) per return flag — one scan, one aggregation, the classic
    * sufficient-statistics form (each executor combines partial sums;
    * nothing but five longs per group crosses the wire). The division
    * runs as sign(num) · (10⁶·|num| div den): Spark's `div` truncates
    * toward zero while DuckDB's `//` floors, so negative slopes are
    * routed through nonnegative operands where the two agree exactly.
    */
  def q186_regression_slope(s: SparkSession, dir: String): DataFrame = {
    def dec(e: String) = s"CAST($e AS DECIMAL(38,0))"
    t(s, dir, "lineitem")
      .select(col("l_returnflag"),
        col("l_quantity").cast("long").as("x"),
        cents(col("l_extendedprice")).as("y"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .withColumn("__num", expr(
        s"${dec("n")} * ${dec("sxy")} - ${dec("sx")} * ${dec("sy")}"))
      .withColumn("__den", expr(
        s"${dec("n")} * ${dec("sxx")} - ${dec("sx")} * ${dec("sx")}"))
      .withColumn("slope_ppm", expr(
        s"""CAST(CASE WHEN __num < 0 THEN -((${dec("1000000")} * (-__num)) div __den)
                      ELSE (${dec("1000000")} * __num) div __den END AS BIGINT)"""))
      .select("l_returnflag", "n", "slope_ppm")
  }

  /** Association-rule mining over order baskets — the market-basket
    * analytics classic: directed rules a→b for part pairs co-bought in
    * ≥ 2 distinct orders, scored by exact-ppm confidence
    * (supp_ab·10⁶ div supp_a) and lift
    * (supp_ab·N·10⁶ div (supp_a·supp_b)), all in decimal(38,0).
    * Pair expansion is basket-collected — one corpus shuffle, then a
    * local explosion bounded by basket size (~4 items/order → ≤6
    * pairs); item supports are an items-sized aggregate that joins
    * back broadcast. Distinct from q177's PMI: baskets not token
    * adjacency, directed confidence not a symmetric score.
    */
  def q187_assoc_rules(s: SparkSession, dir: String): DataFrame = {
    // Basket-collect build: ONE corpus shuffle (groupBy orderkey,
    // map-side partial collect_set — the set IS the per-order distinct)
    // feeds both item supports and the locally-exploded bounded pair
    // set; the previous items.distinct() + self-join form shuffled the
    // item relation three times. The basket aggregate appears twice in
    // the final plan and ReuseExchange computes it once.
    val baskets = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey").as("ok"))
      .agg(collect_set(col("l_partkey")).as("__pks"))
    val supp = baskets.select(explode(col("__pks")).as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("supp"))
    val nBaskets = t(s, dir, "orders").agg(count(lit(1)).as("n_baskets"))
    val pairs = baskets
      .select(explode(col("__pks")).as("a"), col("__pks"))
      .select(col("a"), explode(col("__pks")).as("b"))
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("supp_pair"))
      .where(col("supp_pair") >= 2)
    val directed = pairs.select(col("a").as("ante"), col("b").as("cons"), col("supp_pair"))
      .unionByName(pairs.select(col("b").as("ante"), col("a").as("cons"), col("supp_pair")))
    def dec(e: String) = s"CAST($e AS DECIMAL(38,0))"
    directed
      // NO broadcast hint on the supp joins: the item-support relation
      // is items-sized — tiny when the item vocabulary is bounded (AQE
      // broadcasts it at runtime, measured at bench SF), but on corpora
      // whose ITEM SPACE grows with the data (the 300x probe re-key:
      // 6 M items) a forced broadcast makes every task build a
      // multi-million-entry hash map and the driver collect it twice —
      // measured 4.0x time at 3x data; hint-less AQE re-plans to a
      // shuffle join exactly there (SCALE.md §Round-13 cont.). The
      // 1-row nBaskets broadcast stays: it can never grow.
      .join(supp.select(col("pk").as("ante"), col("supp").as("supp_a")), "ante")
      .join(supp.select(col("pk").as("cons"), col("supp").as("supp_b")), "cons")
      .join(broadcast(nBaskets))
      .withColumn("conf_ppm", expr(
        s"CAST((${dec("supp_pair")} * ${dec("1000000")}) div ${dec("supp_a")} AS BIGINT)"))
      .withColumn("lift_ppm", expr(
        s"""CAST((${dec("supp_pair")} * ${dec("n_baskets")} * ${dec("1000000")})
             div (${dec("supp_a")} * ${dec("supp_b")}) AS BIGINT)"""))
      .orderBy(col("lift_ppm").desc, col("ante"), col("cons"))
      .limit(25)
      .select("ante", "cons", "supp_pair", "conf_ppm", "lift_ppm")
  }

  /** Right-to-erasure cascade — the governance workflow: a customer
    * tombstone set (c_custkey % 97 = 0) propagates through the foreign
    * keys (customer → orders → lineitem), and the report states
    * per-table deleted/kept counts. Each hop is one semi/anti join
    * with the parent key set UNHINTED (stats/AQE broadcast it at small
    * scale; the sets are a fixed fraction of their parent tables, so a
    * forced broadcast is a driver hazard at 100 TB — see the inline
    * note); at 100 TB this is the same bloom-prunable anti-join shape
    * as q101 — the fact tables are scanned once each, never shuffled.
    */
  def q188_gdpr_cascade(s: SparkSession, dir: String): DataFrame = {
    // NO broadcast hints on the tombstone joins (the q187 class): the
    // tombstone sets are a FIXED FRACTION of their parent tables
    // (~1% of customers; their orders), so they grow with the corpus —
    // at 100 TB delO is billions of keys and a forced broadcast OOMs
    // the driver. Stats/AQE broadcast them at bench SF (they are tiny
    // there) and re-plan to the bloom-prunable shuffle semi-join this
    // query's scaladoc describes when they are not.
    val delC = t(s, dir, "customer").where(col("c_custkey") % 97 === 0)
      .select(col("c_custkey"))
    val orders = t(s, dir, "orders")
    val delO = orders.join(delC,
      orders("o_custkey") === delC("c_custkey"), "left_semi")
      .select(col("o_orderkey"))
    val li = t(s, dir, "lineitem")
    // ONE conditional-aggregation scan per table: the tombstone key
    // sets are unique (pkeys), so a marked LEFT join cannot multiply
    // rows and count(<right key>) counts exactly the deleted matches —
    // the old form aggregated deleted and total in separate branches,
    // scanning lineitem (the dominant fact) twice
    val cStats = t(s, dir, "customer").agg(
      count(when(col("c_custkey") % 97 === 0, 1)).as("n"),
      count(lit(1)).as("na")).withColumn("t", lit("customer"))
    val oStats = orders.join(delC,
        orders("o_custkey") === delC("c_custkey"), "left")
      .agg(count(delC("c_custkey")).as("n"), count(lit(1)).as("na"))
      .withColumn("t", lit("orders"))
    val lStats = li.join(delO,
        li("l_orderkey") === delO("o_orderkey"), "left")
      .agg(count(delO("o_orderkey")).as("n"), count(lit(1)).as("na"))
      .withColumn("t", lit("lineitem"))
    cStats.unionByName(oStats).unionByName(lStats)
      .select(col("t").as("table_name"), col("n").as("n_deleted"),
        (col("na") - col("n")).as("n_kept"))
  }

  /** transformWithState with INITIAL STATE — the batch-bootstrap
    * pattern ([[graft.streaming.Streams.runningTotalsWarmStart]]):
    * the even-event_id half of the tape is "yesterday's history",
    * aggregated in batch and seeded into each user's ValueState via
    * `handleInitialState`; the odd half streams on top. A user's final
    * ledger row must equal the batch aggregate over their ENTIRE
    * history — which only holds if the seed landed before the first
    * live row. Users with no live events never emit (seeding is
    * silent), so the oracle restricts to live users.
    */
  def q193_stream_warm_start(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val streamDir = eventsStreamDir(s, dir)
    import s.implicits._
    val history = t(s, dir, "events").where(col("event_id") % 2 === 0)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("v"))
      .as[(Long, Long, Long)]
      .map(r => (r._1, (r._2, r._3)))
    val stream = graft.streaming.Streams.eventsStream(s, streamDir, maxFilesPerTrigger = 4)
      .where(col("event_id") % 2 === 1)
    val pairs = stream
      .select(col("user_id"), cents(col("value")).as("vc"))
      .as[(Long, Long)]
    val totals = graft.streaming.Streams.runningTotalsWarmStart(pairs, history)
    graft.streaming.Streams
      .runToCompletion(s, totals.toDF(), s"q193_sink_${System.nanoTime()}", "update")
      .groupBy("user_id")
      .agg(max(col("n_events")).as("n_events"), max(col("value_c")).as("value_c"))
  }

  /** `Dataset.cogroup` — per-key custom merge of TWO grouped inputs
    * without a join materialization: each user's purchases and clicks
    * meet in one function call, sorted locally (per-user volumes, not
    * corpus volumes), and a single sweep computes which purchases had
    * at least one click STRICTLY between the previous purchase and
    * this one — the "converted purchase" attribution rule, awkward as
    * SQL (the oracle needs a correlated EXISTS) but natural as a
    * sequential merge. One shuffle per side; comparisons run at full
    * microsecond precision.
    */
  def q194_cogroup_convert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
    val p = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
      .as[(Long, Long, java.sql.Timestamp)]
    val c = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
    def micros(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.getNanos / 1000L
    p.groupByKey(_._1).cogroup(c.groupByKey(_._1)) { (user, ps, cs) =>
      val purchases = ps.map(t => (micros(t._3), t._2)).toArray.sorted
      val clicks = cs.map(t => micros(t._2)).toArray.sorted
      var prev = Long.MinValue
      var converted = 0L
      purchases.foreach { case (ts, _) =>
        // any click strictly inside (prev, ts)? binarySearch on a
        // DUPLICATED key returns an ARBITRARY matching index, so i + 1
        // may still point at a click == prev — advance past every equal
        // entry to get the true upper bound (the oracle's c.ts > prev_ts
        // is strict; duplicate per-user timestamps would mismatch).
        val i = java.util.Arrays.binarySearch(clicks, prev)
        var from = if (i >= 0) i + 1 else -i - 1
        while (from < clicks.length && clicks(from) <= prev) from += 1
        if (from < clicks.length && clicks(from) < ts) converted += 1
        prev = ts
      }
      if (purchases.isEmpty) Iterator.empty
      else Iterator.single((user, purchases.length.toLong, converted))
    }.toDF("user_id", "n_purchases", "n_converted")
  }

  /** Anti-entropy repair round-trip: [[TableDiff.diff]] drives the fix
    * it reports — drop `only_b`/`changed` keys from the corrupted
    * replica, re-copy `only_a`/`changed` rows from the source, then
    * diff AGAIN; the result must be the EMPTY relation (the q122
    * violations-as-rows shape, but the "contract" is that the repair
    * converges). Patch traffic is delta-sized (the diff output), the
    * replica is never rewritten wholesale — the reconciliation loop
    * you'd run between datacenters at 100 TB.
    */
  def q195_repair_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), cents(col("value")).as("value_c"))
    // q150's corruption rule: drop every 101st, perturb every 97th,
    // add phantom rows for every 103rd
    val b = a.where(col("event_id") % 101 =!= 0)
      .withColumn("value_c",
        when(col("event_id") % 97 === 0, col("value_c") + 1).otherwise(col("value_c")))
      .unionByName(a.where(col("event_id") % 103 === 0)
        .select((col("event_id") + 1000000000L).as("event_id"),
          col("user_id"), col("value_c")))
    val d = TableDiff.diff(a, b, Seq("event_id"))
    val dropKeys = d.where(col("diff_status").isin("only_b", "changed"))
      .select("event_id")
    val addKeys = d.where(col("diff_status").isin("only_a", "changed"))
      .select("event_id")
    val repaired = b.join(dropKeys, Seq("event_id"), "left_anti")
      .unionByName(a.join(addKeys, Seq("event_id"), "left_semi"))
    TableDiff.diff(a, repaired, Seq("event_id"))
  }

  /** Bloom-filter contract certification — the q183 pattern for the
    * OTHER probabilistic structure in the engine: build the q101-style
    * filter over a dim key set whose membership predicate is KNOWN
    * (c_custkey % 13 = 0), probe every order in one scan, and gate
    * BOTH Bloom guarantees: zero false negatives (a true member the
    * filter rejects is a hard bug) and measured FPR ≤ 5× the
    * configured 1% (deterministic: Spark's filter hashes with a fixed
    * seed, and bit-OR insertion is order-independent). Violations
    * return as rows; one scan, no join — the truth predicate makes
    * the exact side free.
    */
  def q196_bloom_fpr(s: SparkSession, dir: String): DataFrame = {
    val dim = t(s, dir, "customer").where(col("c_custkey") % 13 === 0)
      .select(col("c_custkey"))
    val expected = math.max(dim.count(), 1L) // build param: dim-sized action
    val bytes = BloomPrune.buildFilter(dim, col("c_custkey"), expected, fpp = 0.01)
    t(s, dir, "orders")
      .select(col("o_custkey"),
        graft.functions.exprs.bloomMightContain(col("o_custkey"), bytes).as("__pass"),
        (col("o_custkey") % 13 === 0).as("__truth"))
      .agg(
        sum(when(col("__truth") && !col("__pass"), 1L).otherwise(0L)).as("n_false_neg"),
        sum(when(!col("__truth") && col("__pass"), 1L).otherwise(0L)).as("n_false_pos"),
        sum(when(!col("__truth"), 1L).otherwise(0L)).as("n_non_member"))
      .where(col("n_false_neg") > 0 ||
        col("n_false_pos") * 100 > col("n_non_member") * 5)
      .select("n_false_neg", "n_false_pos", "n_non_member")
  }

  /** Incremental view maintenance for a JOIN — the delta algebra
    * Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB: the engine computes the view as
    * old-view + three delta joins (what an IVM system would apply to
    * the materialized view), the oracle recomputes the full join from
    * scratch — the two must agree exactly. Delta joins touch only
    * delta-sized inputs on one side; at 100 TB the old view is a
    * stored table and the maintenance cost is |Δ|-proportional, never
    * a full recompute (q105 is the aggregate half of the same story).
    */
  def q197_join_ivm(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("long").as("qty"))
    val a = orders.where(col("o_orderkey") % 4 =!= 3)
    val dA = orders.where(col("o_orderkey") % 4 === 3)
    val b = li.where(col("l_linenumber") <= 4)
    val dB = li.where(col("l_linenumber") >= 5)
    def j(x: DataFrame, y: DataFrame) =
      x.join(y, col("o_orderkey") === col("l_orderkey"))
    j(a, b).unionByName(j(dA, b)).unionByName(j(a, dB)).unionByName(j(dA, dB))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(col("qty")).as("sum_qty"))
  }

  /** Forward-fill imputation (LOCF) — the time-series repair primitive:
    * a deterministic corruption nulls every 5th reading, and the last
    * non-null value per user carries forward in event-time order via
    * `last(_, ignoreNulls).over(rows unbounded-preceding)` — one
    * user-keyed shuffle, a within-partition sort, zero joins. Leading
    * nulls (user's first readings corrupted) stay null by definition.
    * The oracle is DuckDB's `last_value(... IGNORE NULLS)` — the same
    * SQL:2011 frame semantics cross-engine, including the (ts,
    * event_id) tie order.
    */
  def q198_forward_fill(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("event_id") % 5 === 0, lit(null).cast("long"))
          .otherwise(cents(col("value"))).as("reading"))
      .withColumn("filled", last(col("reading"), ignoreNulls = true).over(w))
      .select(col("event_id"), col("user_id"),
        col("reading").isNull.cast("long").as("was_null"), col("filled"))
  }

  /** Time-weighted average — the telemetry/finance aggregation where
    * plain AVG is wrong (irregular sampling): each reading holds until
    * the next one, so its weight is the µs gap to the successor
    * (lead over (ts, event_id); the final reading carries no forward
    * weight). TWA = Σ(value_c·Δt) div Σ(Δt), products in
    * decimal(38,0) (cents × µs gaps overflow INT64 at month spans).
    * One user-keyed shuffle + one window + one agg; both engines run
    * the identical µs integer arithmetic (`unix_micros` / `epoch_us`).
    */
  def q199_time_weighted_avg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    def dec(e: String) = s"CAST($e AS DECIMAL(38,0))"
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        cents(col("value")).as("value_c"))
      .withColumn("__dt",
        unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")))
      .where(col("__dt").isNotNull)
      .groupBy("user_id")
      .agg(sum(expr(s"${dec("value_c")} * ${dec("__dt")}")).as("__wsum"),
        sum(col("__dt")).as("__tspan"))
      .where(col("__tspan") > 0)
      .withColumn("twa_c", expr(s"CAST(__wsum div ${dec("__tspan")} AS BIGINT)"))
      .select("user_id", "twa_c")
  }

  /** Exact table profile ([[Validate.profile]]) — the dataset-card
    * statistics block computed schema-generically: (column, n_null,
    * n_distinct) for all 11 lineitem columns in ONE pass (null counts
    * fold into the scan agg; exact NDVs share it via expand). The
    * oracle recomputes every column from scratch with 11 independent
    * aggregations — the engine's one-pass form must match all of them.
    */
  def q200_profile_table(s: SparkSession, dir: String): DataFrame =
    Validate.profile(t(s, dir, "lineitem"))

  /** SLIDING windows (hop < length): every event lands in
    * length/hop = 4 overlapping windows — Spark's `window(ts, "1
    * hour", "15 minutes")` expands each row 4× then aggregates, one
    * shuffle. The tumbling forms are q32/q38; sliding is the
    * moving-average shape (rate monitoring, trend smoothing). The
    * oracle replays the expansion explicitly: each event joins the 4
    * hop-aligned window starts that cover it — the window-assignment
    * arithmetic must agree with Spark's to the microsecond.
    */
  def q201_sliding_window(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** Cumulative distinct users per day — running NDV with NO expanding
    * distinct-state: a user contributes at their FIRST event day only
    * (one min-agg), days aggregate to arrival counts, and a
    * days-sized window prefix-sums them. The naive form (distinct
    * over an expanding frame) re-scans history per day; this form is
    * two aggs + a window over #days rows — the q116/q185 "window over
    * the small relation" discipline.
    */
  def q202_cumulative_ndv(s: SparkSession, dir: String): DataFrame = {
    val firstDay = t(s, dir, "events")
      .where(col("event_type") === "purchase") // conversion date spreads;
      // every user's FIRST event is day 1 on this corpus (degenerate)
      .groupBy("user_id")
      .agg(min(date_trunc("day", col("ts"))).as("first_day"))
    val arrivals = firstDay.groupBy(col("first_day").as("day"))
      .agg(count(lit(1)).as("n_new"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    arrivals
      .withColumn("n_cum_users", sum(col("n_new")).over(w))
      .select("day", "n_new", "n_cum_users")
  }

  /** Cohort retention — the product-analytics staple: users cohorted
    * by first-event week, then (cohort_week, active_week) cells count
    * distinct returning users. Two aggs + one join: first-week per
    * user (user-keyed), distinct (user, week) activity, joined on
    * user (the cohort side is users-sized — broadcast at gate scale,
    * shuffle-join on user at 100 TB, never a time-expanded
    * materialization). week 0 = the cohort's own week (acquisition).
    */
  def q203_cohort_retention(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    // cohort = first PURCHASE day (the conversion date spreads across
    // the tape; first-EVENT cohorts are all day 1 on this corpus)
    val cohort = ev.where(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(min(date_trunc("day", col("ts"))).as("cohort_day"))
    val active = ev
      .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
      .distinct()
    active.join(cohort, "user_id")
      .groupBy("cohort_day", "week")
      .agg(countDistinct(col("user_id")).as("n_active"))
  }

  /** Exact Kolmogorov–Smirnov drift statistic between two segments'
    * price distributions — numeric-distribution drift beside q142's
    * token-level TV distance. D = max over values of
    * |cdf_a − cdf_b|, computed CROSS-MULTIPLIED
    * (|cum_a·n_b − cum_b·n_a|, all integers — no float CDFs), with
    * the cumulative counts a window over DISTINCT VALUES
    * (values-sized, the q185 discipline). Output: D in ppm and the
    * value where it's attained (ties → smallest value). Envelope:
    * cum·n ≤ n² needs decimal(38,0) past n ≈ 3·10⁹ rows per segment —
    * the final arithmetic already runs there.
    */
  def q204_ks_drift(s: SparkSession, dir: String): DataFrame = {
    val v = t(s, dir, "orders")
      .select(cents(col("o_totalprice")).as("v"),
        (col("o_orderkey") % 2 === 0).cast("long").as("is_a"))
    val per = v.groupBy("v")
      .agg(sum(col("is_a")).as("ca"), sum(lit(1L) - col("is_a")).as("cb"))
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    val tot = per.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    def dec(e: String) = s"CAST($e AS DECIMAL(38,0))"
    per
      .withColumn("cuma", sum(col("ca")).over(w))
      .withColumn("cumb", sum(col("cb")).over(w))
      .join(broadcast(tot))
      .withColumn("__d", expr(
        s"abs(${dec("cuma")} * ${dec("nb")} - ${dec("cumb")} * ${dec("na")})"))
      .orderBy(col("__d").desc, col("v"))
      .limit(1)
      .select(
        expr(s"CAST((__d * 1000000) div (${dec("na")} * ${dec("nb")}) AS BIGINT)")
          .as("d_ppm"),
        col("v").as("at_value"))
  }

  /** Bit-parallel set aggregation — the bitmap-index technique: each
    * customer's set of used order priorities packs into one long via
    * `bit_or(1 << idx)` (5-value domain → 5 bits), then the MASK
    * DISTRIBUTION (which priority combinations exist, with
    * `bit_count` for set size) aggregates masks, not sets. Set
    * algebra on 10⁹ customers = one long per customer, and
    * intersections/unions become bitwise ops — the roaring-bitmap
    * idea at its integer-domain core.
    */
  def q205_bitmask_profile(s: SparkSession, dir: String): DataFrame = {
    val masks = t(s, dir, "orders")
      .select(col("o_custkey"),
        // shiftleft(Column, Int) takes a literal count; the dynamic
        // shift needs the SQL form
        expr("shiftleft(CAST(1 AS BIGINT), CAST(substring(o_orderpriority, 1, 1) AS INT) - 1)")
          .as("bit"))
      .groupBy("o_custkey")
      .agg(bit_or(col("bit")).as("mask"))
    masks.groupBy("mask")
      .agg(count(lit(1)).as("n_customers"))
      .select(col("mask"), bit_count(col("mask")).cast("long").as("n_priorities"),
        col("n_customers"))
  }

  /** Prefix-filtered set-similarity join ([[Dedup.prefixJaccardPairs]],
    * the AllPairs/PPJoin family) — the DETERMINISTIC-complete
    * counterpart of q29's MinHash-LSH candidates: rarest-first global
    * token order + per-set prefix length n − ⌈n/2⌉ + 1 guarantees (no
    * probability, proven by the prefix-filtering principle) that every
    * Jaccard ≥ 1/2 pair shares a PREFIX token, so the block join is
    * exact-recall by construction. The oracle brute-forces every pair
    * under the same id cap — any missing pair (a wrong prefix bound)
    * or extra pair (a wrong verify) breaks the hash.
    *
    * Corpus caveat (same class as q147's): the synthetic 31-token
    * vocabulary makes token SETS dense — most doc pairs clear
    * Jaccard 1/2, so the prefix filter's selectivity is corpus-limited
    * here (~14k of ~20k pairs survive). On a real vocabulary the
    * rarest-first prefixes are the whole point; the completeness
    * guarantee — the part the gate checks — is vocabulary-independent,
    * and OperatorsSpec fuzzes it at three thresholds on a
    * real-overlap fixture.
    */
  def q206_set_similarity_join(s: SparkSession, dir: String): DataFrame =
    Dedup.prefixJaccardPairs(
      t(s, dir, "documents").where(col("doc_id") < 200),
      "doc_id", "text", num = 1, den = 2)

  /** SCD Type-2 dimension build — the warehouse versioning op: each
    * user's reading stream collapses to CHANGE POINTS (lag ≠ current),
    * and consecutive change points become validity intervals
    * [valid_from, valid_to) via lead over the filtered stream (null
    * valid_to = the open current version). Two windows over one
    * user-keyed sort — no self-join, no interval materialization
    * beyond the output. The lookup side of the pattern is the as-of
    * join (q33/q129) against exactly these intervals.
    */
  def q207_scd2_intervals(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val changes = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        cents(col("value")).as("value_c"))
      .withColumn("__prev", lag(col("value_c"), 1).over(w))
      .where(col("__prev").isNull || col("__prev") =!= col("value_c"))
    changes
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("ts").as("valid_from"),
        col("valid_to"), col("value_c"))
  }

  /** Exact WEIGHTED median — "the price at which half the UNITS sold"
    * (importance-weighted percentile, the sampling-weight analogue of
    * q91's row median): per group, cumulative quantity over ascending
    * price covers half the total at the answer. Weights aggregate
    * per DISTINCT VALUE first, so the window runs over values-per-
    * group rows (the q185/q204 discipline) — no per-row buffer, no
    * expanding frame. Selection rule: smallest value whose cumulative
    * weight ≥ half the total (2·cumw ≥ totw in integers — no /2
    * rounding anywhere).
    */
  def q208_weighted_median(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), cents(col("l_extendedprice")).as("v"))
      .agg(sum(col("l_quantity").cast("long")).as("w"))
    val wOrd = Window.partitionBy("l_returnflag").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy("l_returnflag")
    per
      .withColumn("cumw", sum(col("w")).over(wOrd))
      .withColumn("totw", sum(col("w")).over(wAll))
      .where(col("cumw") * 2 >= col("totw"))
      .groupBy("l_returnflag")
      .agg(min(col("v")).as("weighted_median_c"))
  }

  /** Sequence gap detection (the "gaps" half of gaps-and-islands): a
    * deterministic filter drops every 7th event id, and lead() over
    * the surviving ids reports each hole as (gap_start, gap_end) —
    * one global sort expressed as a single window, no self-join, no
    * generate_series materialization of the id domain (which at 100 TB
    * would dwarf the data). The recovered gaps must be exactly the
    * dropped multiples of 7.
    */
  def q209_id_gaps(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("event_id")
    t(s, dir, "events")
      .where(col("event_id") % 7 =!= 0)
      .select(col("event_id"))
      .withColumn("__next", lead(col("event_id"), 1).over(w))
      .where(col("__next") > col("event_id") + 1)
      .select((col("event_id") + 1).as("gap_start"),
        (col("__next") - 1).as("gap_end"))
  }

  /** Activity streaks (the "islands" half): consecutive-day runs per
    * user via the classic day − row_number() island key — distinct
    * active days per user, one user-keyed window, then the island
    * aggregate yields each streak's start/length. The product-metric
    * shape ("longest streak", "current streak") with no self-join and
    * no day-domain expansion.
    */
  def q210_activity_streaks(s: SparkSession, dir: String): DataFrame = {
    val days = t(s, dir, "events")
      .select(col("user_id"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .distinct()
    days
      .withColumn("__island",
        expr("date_sub(day, CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INT))"))
      .groupBy("user_id", "__island")
      .agg(min(col("day")).cast("timestamp").as("streak_start"),
        count(lit(1)).as("streak_days"))
      .select("user_id", "streak_start", "streak_days")
  }

  /** BAG-semantics set operations — `INTERSECT ALL` / `EXCEPT ALL`
    * keep MULTIPLICITY (min for intersect, truncated difference for
    * except), where q12/q13's set forms collapse to distinct rows.
    * The fixture makes the difference observable: order-priority
    * multisets of two customer segments share values with DIFFERENT
    * counts, so the bag results differ from the set results in row
    * COUNT, not just content. Spark plans both as aggregate+generate
    * (count, then replicate) — one shuffle each, no join explosion.
    */
  def q211_bag_set_ops(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "orders").where(col("o_custkey") % 3 === 0)
      .select(col("o_orderpriority"))
    val b = t(s, dir, "orders").where(col("o_custkey") % 3 === 1)
      .select(col("o_orderpriority"))
    a.intersectAll(b).groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_intersect_all"))
      .join(
        a.exceptAll(b).groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_except_all")),
        Seq("o_orderpriority"), "full_outer")
      .select(col("o_orderpriority"),
        coalesce(col("n_intersect_all"), lit(0L)).as("n_intersect_all"),
        coalesce(col("n_except_all"), lit(0L)).as("n_except_all"))
  }

  /** Tokenizer vocabulary coverage curve — the Zipf table behind every
    * "how big should the vocab be" decision: tokens ranked by
    * frequency (ties by token), cumulative corpus coverage in exact
    * ppm per rank. One token aggregation; the ranking window runs
    * over the VOCABULARY (q144's discipline), and the answer is the
    * top-30 rows of the curve. cum·10⁶ runs in decimal(38,0) (token
    * counts × 10⁶ overflow INT64 at ~10¹³ tokens).
    */
  def q212_vocab_coverage(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val wRank = Window.orderBy(col("c").desc, col("w"))
    val wCum = Window.orderBy(col("c").desc, col("w"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = counts.agg(sum(col("c")).as("t"))
    def dec(e: String) = s"CAST($e AS DECIMAL(38,0))"
    counts
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("cum", sum(col("c")).over(wCum))
      .join(broadcast(tot))
      .where(col("rank") <= 30)
      .withColumn("cum_ppm",
        expr(s"CAST((${dec("cum")} * ${dec("1000000")}) div ${dec("t")} AS BIGINT)"))
      .select("rank", "w", "c", "cum_ppm")
  }

  /** Schema-drift union — `unionByName(allowMissingColumns = true)`:
    * two generations of an export (one lacks `o_totalprice`, the
    * other lacks `o_orderstatus`) union BY NAME with nulls filled for
    * each side's missing column — the ingestion-time schema-evolution
    * primitive (q146 is the storage-side mergeSchema twin). Column
    * resolution is positional-independent; the oracle states the same
    * union with explicit NULL columns.
    */
  def q213_union_drift(s: SparkSession, dir: String): DataFrame = {
    val gen1 = t(s, dir, "orders").where(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"))
    val gen2 = t(s, dir, "orders").where(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"))
    gen1.unionByName(gen2, allowMissingColumns = true)
  }

  /** Stream-disorder metric — how out-of-order is each user's event
    * stream: the INVERSION COUNT between arrival order (event_id) and
    * event time (ts, event_id). Computed per key in `mapGroups` with
    * an O(n log n) merge-sort count over per-user volumes (the q194
    * cogroup discipline — never a pair materialization); the oracle
    * pays the O(n²) correlated pair count the distributed form
    * avoids. The metric that sizes watermarks: max lateness rank
    * displacement per key.
    *
    * The corpus's event_id is perfectly time-ordered (measured:
    * 0 inversions), so arrival order is DERIVED as the Lehmer
    * permutation (id·48271 mod 2³¹−1 — bijective below the modulus):
    * a deterministic adversarial shuffle both engines replay.
    */
  def q214_disorder_metric(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"))
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .mapGroups { (user, it) =>
        // count pairs where event-time order disagrees with arrival
        // order — classic merge-sort inversion count over the time
        // ranks taken in arrival order
        val byArrival = it.toArray.sortBy(t => (t._2 * 48271L) % 2147483647L)
        val times = byArrival.map(t =>
          (t._3.toInstant.getEpochSecond * 1000000L + t._3.getNanos / 1000L,
            t._2))
        val n = times.length
        var inversions = 0L
        val buf = new Array[(Long, Long)](n)
        def merge(lo: Int, mid: Int, hi: Int): Unit = {
          var i = lo; var j = mid; var k = lo
          while (i < mid && j < hi) {
            // strict inversion: later arrival has strictly smaller
            // (ts, event_id)
            if (implicitly[Ordering[(Long, Long)]].lteq(times(i), times(j))) {
              buf(k) = times(i); i += 1
            } else { buf(k) = times(j); j += 1; inversions += (mid - i) }
            k += 1
          }
          while (i < mid) { buf(k) = times(i); i += 1; k += 1 }
          while (j < hi) { buf(k) = times(j); j += 1; k += 1 }
          System.arraycopy(buf, lo, times, lo, hi - lo)
        }
        def sort(lo: Int, hi: Int): Unit =
          if (hi - lo > 1) {
            val mid = lo + (hi - lo) / 2
            sort(lo, mid); sort(mid, hi); merge(lo, mid, hi)
          }
        sort(0, n)
        (user, n.toLong, inversions)
      }
      .toDF("user_id", "n_events", "n_inversions")
  }

  /** OHLC candles — the finance/telemetry downsampling aggregate: per
    * (day, event_type), open = value at the earliest (ts, event_id),
    * close at the latest, high/low = max/min — all four from ONE
    * aggregation using min/max over (ts, event_id, value) structs
    * (lexicographic struct ordering carries the value along; no
    * window, no self-join, map-side combinable). The oracle replays
    * open/close with arg-ordered window picks.
    */
  def q215_ohlc_candles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(date_trunc("day", col("ts")).as("day"), col("event_type"),
        col("ts"), col("event_id"), cents(col("value")).as("v"))
      .groupBy("day", "event_type")
      .agg(
        min(struct(col("ts"), col("event_id"), col("v")))
          .getField("v").as("open_c"),
        max(col("v")).as("high_c"),
        min(col("v")).as("low_c"),
        max(struct(col("ts"), col("event_id"), col("v")))
          .getField("v").as("close_c"),
        count(lit(1)).as("n"))

  /** Period-over-period growth — the BI report primitive: weekly
    * event counts per type, each week's delta vs the previous week in
    * exact signed ppm (sign factored out of the floor division, the
    * q186 discipline — Spark `div` truncates, DuckDB `//` floors, they
    * agree only on nonnegative operands). First week per type has no
    * predecessor → null growth, stated identically in both engines.
    * One agg + one lag over the (type, week) table — report-sized.
    */
  def q216_wow_growth(s: SparkSession, dir: String): DataFrame = {
    val weekly = t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("week", col("ts")).as("week"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("week")
    weekly
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .withColumn("growth_ppm", expr(
        """CASE WHEN prev_n IS NULL THEN NULL
                WHEN n >= prev_n THEN ((n - prev_n) * 1000000) div prev_n
                ELSE -(((prev_n - n) * 1000000) div prev_n) END"""))
      .select("event_type", "week", "n", "growth_ppm")
  }

  /** Rolling 7-day distinct actives (WAU) — the sliding-window
    * DISTINCT that q202's prefix-sum trick CANNOT express (distinct
    * doesn't subtract): each active (user, day) explodes into the 7
    * report days it covers (bounded 7× expansion — the q201 sliding
    * principle applied to distinct), then one distinct-count per
    * report day. Report days ride the data; days with no activity in
    * range don't appear (stated identically in the oracle).
    */
  def q217_rolling_wau(s: SparkSession, dir: String): DataFrame = {
    val active = t(s, dir, "events")
      .select(col("user_id"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .distinct()
    active
      .select(col("user_id"), explode(expr(
        "transform(sequence(0, 6), i -> date_add(day, i))")).as("report_day"))
      .groupBy("report_day")
      .agg(countDistinct(col("user_id")).as("wau"))
      .select(col("report_day").cast("timestamp").as("report_day"), col("wau"))
  }

  /** Error-safe arithmetic under ANSI mode — `try_divide` / `try_add`
    * / `try_cast` return NULL where the strict forms THROW (division
    * by zero, overflow, malformed casts): the ingestion posture for
    * dirty data (one bad record must not kill a 100 TB batch — the
    * q134 PERMISSIVE-JSON stance for expressions). The fixture
    * manufactures all three hazards deterministically; the oracle
    * states the same semantics with CASE guards.
    */
  def q218_try_arithmetic(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        // division by zero every 10th row
        expr("try_divide(CAST(o_custkey AS BIGINT), o_orderkey % 10)")
          .as("safe_div"),
        // overflow: near-max long + positive addend
        expr("try_add(9223372036854775807 - (o_orderkey % 3), CAST(2 AS BIGINT))")
          .as("safe_add"),
        // malformed cast: status letters are not numbers
        expr("try_cast(o_orderstatus AS BIGINT)").as("safe_cast"),
        expr("try_cast(CAST(o_orderkey AS STRING) AS BIGINT)").as("good_cast"))

  /** Regression fit quality — r² in EXACT integer arithmetic (the
    * q186 family completed): r² = (nΣxy − ΣxΣy)² / ((nΣx² − (Σx)²) ·
    * (nΣy² − (Σy)²)) needs no square root, so the whole statistic is
    * one decimal(38,0) ratio in ppm from the same five sufficient
    * statistics plus Σy². Degenerate groups (zero variance on either
    * axis) are stated NULL in both engines.
    *
    * Envelope: num² must stay under 10³⁸, which bounds |num| ≤ 10¹⁹ —
    * so BOTH variables need bounded domains (quantity ≤ 50, discount
    * ≤ 1000 bp keep num ≤ ~10¹⁵ at sf10). Wide-valued variables
    * (prices) breach the square even in int128 — there the honest
    * paths are pre-scaling or floats, not silent wraparound (ANSI
    * throws loudly if this bound is ever crossed).
    */
  def q219_r_squared(s: SparkSession, dir: String): DataFrame = {
    def dec(e: String) = s"CAST($e AS DECIMAL(38,0))"
    t(s, dir, "lineitem")
      .select(col("l_returnflag"),
        col("l_quantity").cast("long").as("x"),
        round(col("l_discount") * 10000).cast("long").as("y")) // basis points
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(expr(s"${dec("y")} * ${dec("y")}")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .withColumn("__num", expr(
        s"${dec("n")} * ${dec("sxy")} - ${dec("sx")} * ${dec("sy")}"))
      .withColumn("__dx", expr(
        s"${dec("n")} * ${dec("sxx")} - ${dec("sx")} * ${dec("sx")}"))
      .withColumn("__dy", expr(
        s"${dec("n")} * syy - ${dec("sy")} * ${dec("sy")}"))
      .withColumn("r2_ppm", expr(
        s"""CASE WHEN __dx = 0 OR __dy = 0 THEN NULL
                 ELSE CAST((${dec("1000000")} * __num * __num)
                           div (__dx * __dy) AS BIGINT) END"""))
      .select("l_returnflag", "n", "r2_ppm")
  }

  /** Streaming lakehouse ingest end-to-end: events stream through
    * `foreachBatch` into an append-only parquet table (the raw
    * landing zone), then the layout layer runs — [[graft.core.ZoneMap]]
    * re-clusters on ts with a per-file zone sidecar — and a pruned
    * time-range read serves the query. The gate proves the whole
    * chain (stream → landing → cluster → skip-read) loses and
    * fabricates nothing vs the oracle's direct slice of the source
    * table. Batch boundaries don't matter: append is row-wise, the
    * re-cluster is a full rewrite (the compaction step a real table
    * service runs incrementally).
    */
  def q220_stream_lakehouse_sink(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val streamDir = eventsStreamDir(s, dir)
    val base = scratch("q220", dir)
    val landing = s"$base/landing"
    val clustered = s"$base/clustered"
    val root = java.nio.file.Paths.get(base)
    deleteRecursively(root, strict = true)
    val stream = graft.streaming.Streams.eventsStream(s, streamDir, maxFilesPerTrigger = 2)
    val q = stream
      .select(col("event_id"), col("ts"), col("user_id"), cents(col("value")).as("value_c"))
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(landing)
      }
      .start()
    q.processAllAvailable()
    q.stop()
    graft.core.ZoneMap.write(s.read.parquet(landing), clustered, "ts", numFiles = 8)
    val lo = lit("2024-01-10 00:00:00").cast("timestamp")
    val hi = lit("2024-01-12 23:59:59").cast("timestamp")
    graft.core.ZoneMap.prunedRead(s, clustered, lo, hi)
      .where(col("ts").between(lo, hi))
      .select("event_id", "user_id", "value_c")
  }

  /** Distributed global row numbering ([[GlobalOrder.rowNumber]]) —
    * the scalable `row_number() OVER (ORDER BY …)`: range partition +
    * local rank + exclusive-prefix-sum offsets, widest task = one
    * range bucket (the oracle's single-reducer global window is
    * exactly what this avoids). Total order (price cents, orderkey);
    * numbering is partitioning-independent, so the gate pins the
    * entire mechanism — boundary sampling, local ranks, offset
    * arithmetic — against the oracle's window.
    */
  def q221_global_row_number(s: SparkSession, dir: String): DataFrame =
    GlobalOrder.rowNumber(
      t(s, dir, "orders")
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c")),
      Seq(col("price_c"), col("o_orderkey")), out = "rn")
      .select("o_orderkey", "price_c", "rn")

  /** As-of join with TOLERANCE (pandas merge_asof's `tolerance`, kdb's
    * bounded aj): each purchase takes the user's most recent click,
    * but a match staler than 1 hour is DISCARDED (nulls) — the
    * freshness contract a plain as-of join can't express. Same
    * union+window machinery as q33/q129 (one shuffle), tolerance as a
    * post-predicate that nulls both payload columns atomically.
    */
  def q222_asof_tolerance(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("pts"))
    val c = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("cts"),
        col("event_id").as("click_id"))
    val joined = AsOfJoin(p, c, "user_id", "pts", "c_user", "cts",
      tieBreak = "click_id", payloadCols = Seq("click_id"))
    val fresh = col("cts").isNotNull &&
      col("cts") >= col("pts") - expr("INTERVAL 1 HOUR")
    joined.select(col("purchase_id"), col("user_id"), col("pts"),
      when(fresh, col("click_id")).as("click_id"),
      when(fresh, col("cts")).as("click_ts"))
  }

  /** Top-k WITH TIES — rank() ≤ k keeps every row tying at the cutoff
    * where row_number() would truncate arbitrarily (the SQL:2008
    * FETCH FIRST … WITH TIES semantics): top-2 order prices per
    * priority, ties at rank 2 all surface. Per-group window — shards
    * by priority; the deterministic-output point is that WITH TIES
    * needs no tiebreak column to be reproducible.
    */
  def q223_top_k_ties(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("price_c").desc)
    t(s, dir, "orders")
      .select(col("o_orderpriority"), cents(col("o_totalprice")).as("price_c"))
      .withColumn("rk", rank().over(w).cast("long"))
      .where(col("rk") <= 2)
      .groupBy("o_orderpriority", "rk", "price_c")
      .agg(count(lit(1)).as("n_tied"))
  }

  /** Exact Gini coefficient per nation — the inequality statistic as
    * pure integer arithmetic over the VALUE distribution (dataset-
    * balance audits use exactly this): with per-value counts c_v and
    * strictly-smaller cumulative counts cum_v (values-sized windows,
    * the q204 discipline), the duplicate-aware rank sum is
    * 2Σi·x_(i) = Σ_v x_v·c_v·(2·cum_v + c_v + 1), and
    * gini_ppm = (rankSum − (n+1)·Σx)·10⁶ div (n·Σx) — no sort of the
    * data, no float, one cents aggregation per (nation, value).
    */
  def q224_gini(s: SparkSession, dir: String): DataFrame = {
    def dec(e: String) = s"CAST($e AS DECIMAL(38,0))"
    val per = t(s, dir, "orders")
      .join(t(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"), cents(col("o_totalprice")).as("v"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy("c_nationkey").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    per
      .withColumn("cum", coalesce(sum(col("c")).over(wCum), lit(0L)))
      .groupBy("c_nationkey")
      .agg(sum(col("c")).as("n"),
        sum(expr(s"${dec("v")} * ${dec("c")}")).as("sx"),
        sum(expr(s"${dec("v")} * ${dec("c")} * ${dec("2 * cum + c + 1")}"))
          .as("ranksum"))
      .withColumn("gini_ppm", expr(
        s"""CAST(((ranksum - (${dec("n")} + 1) * sx) * ${dec("1000000")})
                 div (${dec("n")} * sx) AS BIGINT)"""))
      .select("c_nationkey", "n", "gini_ppm")
  }

  /** Herfindahl–Hirschman concentration index — "is this nation's
    * revenue dominated by few suppliers": HHI_ppm = 10⁶·Σ rev_i² div
    * (Σ rev)², exact in decimal(38,0) (squares of cents sums — no
    * per-share rounding, the ratio floors ONCE at the end). Two
    * aggregations (supplier revenue, then the nation fold); 10⁶ = one
    * supplier owns everything, 10⁶/k = k equal suppliers.
    */
  def q225_hhi(s: SparkSession, dir: String): DataFrame = {
    def dec(e: String) = s"CAST($e AS DECIMAL(38,0))"
    val rev = t(s, dir, "lineitem")
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"), col("s_suppkey"))
      .agg(sum(cents(col("l_extendedprice"))).as("rev"))
    rev.groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_suppliers"),
        sum(expr(s"${dec("rev")} * ${dec("rev")}")).as("ss"),
        sum(col("rev")).as("tot"))
      .withColumn("hhi_ppm", expr(
        s"CAST((${dec("1000000")} * ss) div (${dec("tot")} * ${dec("tot")}) AS BIGINT)"))
      .select("s_nationkey", "n_suppliers", "hhi_ppm")
  }

  /** Cross-table reconciliation audit — does each order's header total
    * match the sum of its lines (the invoice-vs-ledger check every
    * finance pipeline runs)? The synthetic generator does NOT maintain
    * the invariant, so the report is a LIVE population: per-order
    * header cents vs Σ line extendedprice cents, top-20 by absolute
    * discrepancy (ties by orderkey). One join + one agg; at 100 TB
    * this is the q152 FK-check shape with an arithmetic body.
    */
  def q226_order_reconciliation(s: SparkSession, dir: String): DataFrame = {
    val lines = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(cents(col("l_extendedprice"))).as("lines_c"))
    t(s, dir, "orders")
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("header_c"))
      .join(lines, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderkey"), col("header_c"),
        coalesce(col("lines_c"), lit(0L)).as("lines_c"))
      .withColumn("abs_diff_c", abs(col("header_c") - col("lines_c")))
      .orderBy(col("abs_diff_c").desc, col("o_orderkey"))
      .limit(20)
  }

  /** Cohen's kappa — chance-corrected agreement between the heuristic
    * language labeler (q23's [[TextAnalysis.langId]]) and the true
    * lang column, in EXACT cross-multiplied integers:
    * κ = (N·D − Σ row·col) / (N² − Σ row·col) scaled to ppm, sign
    * factored out of the floor (the q186 discipline — below-chance
    * agreement is legal). The annotator-agreement metric every
    * labeling pipeline reports; everything reduces over the
    * CONFUSION MATRIX (classes² rows), so the corpus is touched once.
    */
  /** Per-class confusion-matrix margins in ONE corpus pass, shared by
    * q227/q228: each (lang, pred, c) cell contributes its count to its
    * TRUE class's row margin (and the diagonal when lang = pred) and to
    * its PREDICTED class's column margin via a 2-row explode over the
    * already-aggregated (classes²-sized) matrix, then one tiny re-agg.
    * The previous form derived the three margins as three separate
    * aggregates OVER THE SAME conf lineage — pre-AQE that is three full
    * corpus scans each re-running the regex-heavy langId (AQE exchange
    * reuse recovered some of it at runtime, but the single-pass shape
    * needs no rescue and drops the 1-row bnlj join too).
    */
  private def classConfusion(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"), TextAnalysis.langId(col("text")).as("pred"))
      .groupBy("lang", "pred").agg(count(lit(1)).as("c"))
      .select(explode(array(
        struct(col("lang").as("cls"), col("c").as("n_true"),
          lit(0L).as("n_pred"),
          when(col("lang") === col("pred"), col("c")).otherwise(lit(0L)).as("tp")),
        struct(col("pred").as("cls"), lit(0L).as("n_true"),
          col("c").as("n_pred"), lit(0L).as("tp")))).as("__m"))
      .groupBy(col("__m.cls").as("cls"))
      .agg(sum(col("__m.n_true")).as("n_true"),
        sum(col("__m.n_pred")).as("n_pred"),
        sum(col("__m.tp")).as("tp"))

  def q227_cohens_kappa(s: SparkSession, dir: String): DataFrame = {
    def dec(e: String) = s"CAST($e AS DECIMAL(38,0))"
    // N, the diagonal, and Σ row·col all reduce over the per-class
    // margins: N = Σ n_true, D = Σ tp, and the chance term Σ rc·cc =
    // Σ_cls n_true·n_pred (a class missing from rows or cols
    // contributes a 0 factor — exactly the inner join's absent term)
    classConfusion(s, dir)
      .agg(sum(col("n_true")).as("n"), sum(col("tp")).as("d"),
        coalesce(sum(expr(s"${dec("n_true")} * ${dec("n_pred")}")),
          lit(0).cast("decimal(38,0)")).as("p"))
      .withColumn("__num", expr(s"${dec("n")} * ${dec("d")} - p"))
      .withColumn("__den", expr(s"${dec("n")} * ${dec("n")} - p"))
      .withColumn("kappa_ppm", expr(
        s"""CAST(CASE WHEN __num < 0
                  THEN -((${dec("1000000")} * (-__num)) div __den)
                  ELSE (${dec("1000000")} * __num) div __den
             END AS BIGINT)"""))
      .select(col("n").as("n_docs"), col("d").as("n_agree"), col("kappa_ppm"))
  }

  /** Per-class precision/recall for the same labeler — the multiclass
    * evaluation report (tp / fp / fn and exact ppm ratios) every
    * model-eval pipeline emits. Classes = union of true and predicted
    * labels (a class never predicted keeps precision NULL, never true
    * keeps recall NULL — stated identically in the oracle). All
    * arithmetic over the confusion matrix; one corpus pass.
    */
  def q228_class_prf(s: SparkSession, dir: String): DataFrame = {
    // the shared one-pass margins already carry tp / n_pred / n_true
    // per class, with a class never predicted (or never true) keeping
    // a genuine 0 margin — the CASE below turns it into the NULL ratio
    // the oracle states
    classConfusion(s, dir)
      .select(col("cls"), col("tp"), col("n_pred"), col("n_true"))
      .withColumn("precision_ppm",
        expr("CASE WHEN n_pred > 0 THEN (tp * 1000000) div n_pred END"))
      .withColumn("recall_ppm",
        expr("CASE WHEN n_true > 0 THEN (tp * 1000000) div n_true END"))
  }

  /** Calendar-dimension build — the warehouse date spine generated
    * IN-PLAN (`sequence` over the observed [min, max] day range,
    * exploded), enriched with ISO weekday / week start, and
    * left-joined to daily event counts so empty days surface as
    * explicit zeros (the calendar-driven complement of q100's
    * per-series gap fill). The spine is days-sized whatever the data
    * volume; the 1-row min/max agg broadcasts. Cross-engine: Spark
    * `weekday()+1` = DuckDB `isodow` (both Monday=1).
    */
  def q229_calendar_spine(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(date_trunc("day", col("ts")).cast("date").as("day"))
    val bounds = ev.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    val spine = bounds
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    val daily = ev.groupBy("day").agg(count(lit(1)).as("n_events"))
    spine.join(daily, Seq("day"), "left")
      .select(col("day").cast("timestamp").as("day"),
        (weekday(col("day")) + 1).cast("long").as("isodow"),
        date_trunc("week", col("day")).as("week_start"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
  }

  /** Maximum drawdown — the peak-to-trough risk statistic, exact in
    * cents: per user, the running cumulative balance (ordered by
    * (ts, event_id)), its running peak, and the largest peak-minus-
    * balance gap. Two stacked windows over ONE user-keyed sort — the
    * canonical "how far below its high-water mark did this series
    * fall" over any (time, value) stream.
    */
  def q230_max_drawdown(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        (when(col("event_type") === "purchase", lit(-1L)).otherwise(lit(1L))
          * cents(col("value"))).as("delta_c"))
      .withColumn("bal", sum(col("delta_c")).over(w))
      .withColumn("peak", max(col("bal")).over(w))
      .groupBy("user_id")
      .agg(max(col("peak") - col("bal")).as("max_drawdown_c"),
        max(col("peak")).as("peak_c"))
  }

  /** The PRODUCTION containment join ([[Dedup.containmentPairs]]) over
    * the UNCAPPED documents table — q130's operator, not its capped
    * verification form: prefix-filtered asymmetric blocking (rarest-
    * first prefix of A against B's full postings) with EXACT recall by
    * the prefix-filtering principle, so the result set IS the full
    * brute-force containment relation and the oracle can state it as
    * the posting-list equi-join (pairs sharing ≥ 1 shingle, exact
    * intersection counts, cross-multiplied integer gate — no floats).
    * Plan shape: hash aggregates + equi-joins only, no
    * BroadcastNestedLoopJoin (PlanShapeSpec pins it); the OperatorsSpec
    * fuzz pins equality with brute force at three thresholds.
    */
  def q231_containment_join(s: SparkSession, dir: String): DataFrame =
    // allowUncapped: this IS the exact-recall certification gate the
    // uncapped path exists for (the production default is
    // containmentPairsAdaptive — q230/q206's entry)
    Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
      shingleWidth = 3, num = 3, den = 5, allowUncapped = true)

  /** Recall-contract certification for the containment join's `maxDf`
    * posting cap — the q183/q196 violations-as-rows pattern applied to
    * the operator's 100 TB skew lever. cap=2 genuinely bites at every
    * SF (sf0.01: 4 of 50 pairs lost; sf0.1: 492 of 512 — measured), so
    * the contract is never vacuously green. Two gates:
    *
    *  1. `extra_or_mutated`: every capped pair must appear in the exact
    *     relation with IDENTICAL (i, na) — the cap prunes candidate
    *     generation only; verification sets stay uncapped, so capping
    *     may lose pairs but never invent or corrupt one.
    *  2. `unexplained_miss`: every lost pair must be cap-explained —
    *     the blocking is recomputed INDEPENDENTLY here (shingle dfs,
    *     rarest-first ranks, prefix lengths, built from the raw table,
    *     not the operator's internals), and a missing pair that shares
    *     any prefix(A) shingle with df ≤ cap in B is a recall bug (an
    *     over-capped A-prefix or an off-by-one prefix length would
    *     surface exactly here).
    *
    * Violations return as rows; the oracle states the contract holds
    * (empty relation). Certification cost scales with candidates and
    * the vocab, never n².
    */
  def q232_containment_cap(s: SparkSession, dir: String): DataFrame = {
    val cap = 2L
    val docs = t(s, dir, "documents")
    // Cost floor (measured, r10): this query RUNS the production exact
    // invocation (q231 alone: 4.2 s cold at sf0.1), the capped
    // invocation, and gate 2's independent blocking recomputation, so
    // it cannot undercut q231 without ceasing to certify the production
    // code path. Materializing the two output relations once via
    // localCheckpoint (so the gates stop re-evaluating each run) was
    // measured NEUTRAL — 7.33 -> 7.43 s warm, within noise; the shared
    // blocking exchanges are already reused at runtime — and was
    // reverted (SCALE.md §q232 certification cost).
    val exact = Dedup.containmentPairs(docs, "doc_id", "text",
      shingleWidth = 3, num = 3, den = 5, allowUncapped = true)
    val capped = Dedup.containmentPairs(docs, "doc_id", "text",
      shingleWidth = 3, num = 3, den = 5, maxDf = Some(cap))
    // gate 1: capped ⊆ exact with identical measures
    val extra = capped.join(exact, Seq("id_a", "id_b", "i", "na"), "left_anti")
      .select(col("id_a"), col("id_b"), lit("extra_or_mutated").as("violation"))
    // gate 2: independent recomputation of the blocking
    val missing = exact.join(capped, Seq("id_a", "id_b"), "left_anti")
      .select("id_a", "id_b")
    val toks = docs.select(col("doc_id").as("__id"),
      explode(array_distinct(Dedup.shingles(col("text"), 3))).as("__t"))
    val dfreq = toks.groupBy("__t").agg(count(lit(1)).as("__df"))
    val ranked = dfreq.select(col("__t"), col("__df"),
      row_number().over(Window.orderBy(col("__df"), col("__t")))
        .cast("long").as("__rank"))
    val rtoks = toks.join(ranked, "__t")
      .select(col("__id"), col("__rank"), col("__df"))
    val prefixes = rtoks.select(col("__id"), col("__rank"))
      .groupBy("__id").agg(sort_array(collect_list(col("__rank"))).as("__set"))
      .withColumn("__n", size(col("__set")).cast("long"))
      .withColumn("__p", expr("__n - ((__n * 3 + 5 - 1) div 5) + 1"))
      .select(col("__id"),
        explode(expr("slice(__set, 1, CAST(__p AS INT))")).as("__k"))
    val unexplained = missing
      .join(prefixes.select(col("__id").as("id_a"), col("__k")), Seq("id_a"))
      .join(rtoks.where(col("__df") <= cap)
        .select(col("__id").as("id_b"), col("__rank").as("__k")),
        Seq("id_b", "__k"))
      .select(col("id_a"), col("id_b"), lit("unexplained_miss").as("violation"))
      .distinct()
    extra.unionByName(unexplained)
  }

  /** Certification of [[Dedup.containmentFanout]] — the round-9
    * verdict's #1 ask (knee guidance turned into API): the analytic
    * candidate volume Σ_t dfPrefix(t)·df(t) of the UNCAPPED containment
    * join, the corpus df stats it derives from, and the maxDf the probe
    * recommends, each recomputed INDEPENDENTLY by the oracle from the
    * raw documents table (shingle dfs, rarest-first ranks, prefix
    * lengths, the shared [[Dedup.MaxDfLadder]], budget cumsums — all
    * integer arithmetic, deterministic in both engines). Two budgets so
    * the recommendation branch is NEVER vacuous: the knee-calibrated
    * default ([[Dedup.DefaultCandidatesPerDoc]]; the oracle corpora sit
    * under it → no cap, exact recall free) and a forced 1/doc (hazard
    * fires → a real ladder cap on the same data at every SF). The probe
    * itself is blocking-stage-only (no candidate join) — the point is
    * that it is safe to run on a corpus whose uncapped join would DNF.
    */
  def q233_fanout_probe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probe = Dedup.containmentFanout(t(s, dir, "documents"),
      "doc_id", "text", shingleWidth = 3, num = 3, den = 5)
    Seq((probe.nDocs, probe.vocab, probe.maxShingleDf,
      probe.uncappedCandidates, probe.recommendedMaxDf,
      probe.recommendedMaxDfFor(1L)))
      .toDF("n_docs", "vocab", "max_shingle_df", "uncapped_candidates",
        "rec_default", "rec_tight")
  }

  /** Certification of [[graft.txn.TxnTable.compact]] through the oracle
    * gate (the round-9 verdict's #3 ask, landed this round with TxnSpec
    * pins; this query re-states the CONTRACT declaratively in DuckDB):
    * a tape with one checkpoint-subsumed commit, a fuzzy-checkpoint
    * STRADDLER (in flight at the checkpoint, committed after — its
    * pre-checkpoint UPDATE records must survive compaction or its rows
    * vanish), a live post-checkpoint commit, and an abort is compacted
    * (tape rewrite + dead-dir GC), then COLD-REOPENED — a fresh TxnTable
    * re-deriving everything from the compacted tape alone. The gate
    * checks BOTH surviving read paths: the current snapshot (subsumed ∪
    * straddler ∪ live slices, aborted invisible) and time travel to the
    * straddler's commit (base + straddler only — readAsOf must still
    * work across a compaction for every snapshot at-or-after the
    * checkpoint; snapshots before it are the documented loss). Structural
    * invariants (exactly the subsumed txn's 3 records dropped, exactly
    * its one batch dir GC'd) are asserted in-build so a compaction
    * regression fails by name rather than shifting rows.
    */
  def q234_txn_compaction(s: SparkSession, dir: String): DataFrame = {
    // Same per-process tape-caching discipline as q37 (marker file,
    // pid + dir key); later invocations in the same process exercise
    // the cold-open path over the compacted tape.
    val tmp = scratch("q234", dir)
    val root = java.nio.file.Paths.get(tmp)
    val marker = root.resolve("_graft_built")
    if (!java.nio.file.Files.exists(marker)) {
      deleteRecursively(root, strict = true)
      val orders = t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
      val table = new graft.txn.TxnTable(s, tmp)
      val t1 = table.txns.startTxn()
      table.insert(t1, orders.where(col("o_orderkey") % 4 === 0))
      table.txns.commitTxn(t1) // resolved before the checkpoint → subsumed
      val t2 = table.txns.startTxn()
      table.insert(t2, orders.where(col("o_orderkey") % 4 === 1))
      table.checkpoint() // t2 in flight here: fuzzy straddler
      table.txns.commitTxn(t2)
      val t3 = table.txns.startTxn()
      table.insert(t3, orders.where(col("o_orderkey") % 4 === 2))
      table.txns.commitTxn(t3) // live post-checkpoint commit
      val t4 = table.txns.startTxn()
      table.insert(t4, orders.where(col("o_orderkey") % 4 === 3))
      table.txns.abortTxn(t4) // unresolved by any checkpoint → records kept
      val (dropped, deleted) = table.compact()
      // exactly t1's BEGIN/UPDATE/COMMIT leave the tape; exactly t1's
      // batch dir (its rows live in the checkpoint base) is GC'd — the
      // straddler's and the aborted txn's dirs stay tape-referenced
      require(dropped == 3 && deleted == 1,
        s"q234 compaction contract violated: dropped $dropped records " +
          s"(expected 3: the subsumed txn's), deleted $deleted dirs (expected 1)")
      java.nio.file.Files.createFile(marker)
    }
    // cold open: committed state AND the straddler's historical snapshot
    // both re-derived from the compacted tape (t2 is always id 2 on a
    // fresh tape — monotonic from 1)
    val reopened = new graft.txn.TxnTable(s, tmp)
    reopened.read().withColumn("snap", lit("now"))
      .unionByName(reopened.readAsOf(2L).withColumn("snap", lit("asof_straddler")))
  }

  /** Certification of [[graft.txn.TxnTable.compact]]'s
    * `retainCheckpoints` history window through the oracle gate (the
    * r10 verdict's #5 ask, landed this round with TxnSpec pins; this
    * query re-states the RETENTION contract declaratively in DuckDB):
    * a tape with two checkpoints — t1 committed before ckpt1, t2
    * committed between the checkpoints, t3 after ckpt2 — is compacted
    * with `retainCheckpoints = 2`, so the OLDER checkpoint becomes the
    * compaction base and only t1's records drop. The gate then
    * COLD-REOPENS the table and checks both surviving read paths: the
    * current snapshot, and time travel to t2 — a snapshot INSIDE the
    * retained window, served through the older checkpoint base plus
    * t2's own batch, which a maximal compact() would have destroyed.
    * Structural invariants asserted in-build: exactly t1's 3 records
    * dropped, exactly its 1 batch dir GC'd, BOTH checkpoint records
    * still on the tape, and time travel to t1 (behind the oldest
    * retained checkpoint) failing by name — the documented permanent
    * loss, positioned by the knob instead of abolished.
    */
  def q236_txn_retention(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("q236", dir)
    val root = java.nio.file.Paths.get(tmp)
    val marker = root.resolve("_graft_built")
    if (!java.nio.file.Files.exists(marker)) {
      deleteRecursively(root, strict = true)
      val orders = t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
      val table = new graft.txn.TxnTable(s, tmp)
      val t1 = table.txns.startTxn()
      table.insert(t1, orders.where(col("o_orderkey") % 3 === 0))
      table.txns.commitTxn(t1)
      table.checkpoint() // ckpt1 subsumes t1
      val t2 = table.txns.startTxn()
      table.insert(t2, orders.where(col("o_orderkey") % 3 === 1))
      table.txns.commitTxn(t2) // commits INSIDE the retained window
      table.checkpoint() // ckpt2 subsumes t2
      val t3 = table.txns.startTxn()
      table.insert(t3, orders.where(col("o_orderkey") % 3 === 2))
      table.txns.commitTxn(t3) // live past the newest checkpoint
      val (dropped, deleted) = table.compact(retainCheckpoints = 2)
      // exactly t1's BEGIN/UPDATE/COMMIT leave the tape; exactly t1's
      // batch dir is GC'd (its rows live in ckpt1's base); both
      // checkpoints survive — ckpt1 is the retained compaction base
      require(dropped == 3 && deleted == 1,
        s"q236 retention contract violated: dropped $dropped records " +
          s"(expected 3: the pre-window txn's), deleted $deleted dirs (expected 1)")
      require(table.log.count(graft.txn.LogRecord.Checkpoint) == 2,
        "q236 retention contract violated: a retained checkpoint left the tape")
      // behind the oldest retained checkpoint the loss is permanent and
      // named — a silent wrong-rows answer here would be corruption
      val lossNamed =
        try { table.readAsOf(t1); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("no COMMIT record") }
      require(lossNamed,
        "q236 retention contract violated: time travel behind the oldest " +
          "retained checkpoint must fail by name")
      java.nio.file.Files.createFile(marker)
    }
    // cold open: the current snapshot AND the in-window historical
    // snapshot both re-derived from the retention-compacted tape (t2 is
    // always id 2 on a fresh tape — monotonic from 1)
    val reopened = new graft.txn.TxnTable(s, tmp)
    reopened.read().withColumn("snap", lit("now"))
      .unionByName(reopened.readAsOf(2L).withColumn("snap", lit("asof_in_window")))
  }

  /** Multi-trigger watermark-eviction certification (r11 verdict #6):
    * the one streaming contract no oracle gate covered end-to-end. The
    * existing stream gates replay ONE data trigger (the initial
    * watermark drops nothing), so cross-trigger semantics — the
    * watermark advancing between triggers, late rows dropped against
    * it, in-horizon stragglers still aggregating into open windows, and
    * each closed window emitted EXACTLY once from evicted state — were
    * covered only by StreamingSpec's synthetic tapes. This gate runs a
    * watermarked 1-hour windowed count over [[lateReplayStreamDir]]'s
    * deterministic three-trigger tape (on-time bulk, carrier, then tail
    * + a late replay of every event_id % 5 == 0 row) in APPEND mode
    * with the trailing no-data batch enabled, and the DuckDB oracle
    * recomputes the exact emitted set by replaying Spark's measured
    * integer boundary arithmetic (the q127/q132 discipline, applied to
    * aggregation state; each rule pinned empirically by WmProbeSpec):
    *   - the late filter of trigger 2 uses the watermark PREVIOUS to
    *     its update = trigger 1's eviction watermark = ms-floored max
    *     BULK ts − 120 h (this is why the carrier trigger exists — see
    *     the staging scaladoc), and drops a row iff its WINDOW END ≤
    *     that value (a row whose ts is behind the watermark but whose
    *     window is still open is kept and aggregated — which is exactly
    *     what makes the rule eviction-safe: a kept row can never
    *     resurrect an emitted window);
    *   - final watermark = ms-floored global max ts − 120 h (late rows
    *     still advance the watermark: the stats collector sits below
    *     the late filter);
    *   - a window emits iff its end ≤ the final watermark (inclusive),
    *     and must appear exactly once — a broken eviction re-emitting a
    *     closed window surfaces as a duplicate row and fails the bag
    *     compare.
    * All populations are live at every SF (sf0.001: hundreds of
    * replays split kept/dropped by the 120 h horizon against the 5-day
    * tail cut, dozens of them landing in emitted windows).
    * Streaming-tagged for the bench's median policy.
    */
  def q237_stream_watermark_eviction(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0, noDataBatches = true)
    val streamDir = lateReplayStreamDir(s, dir)
    val stream = graft.streaming.Streams
      .eventsStream(s, streamDir, maxFilesPerTrigger = 1)
    val counts = graft.streaming.Streams
      .windowedCounts(stream, "1 hour", "120 hours")
    graft.streaming.Streams
      .runToCompletion(s, counts, s"q237_sink_${System.nanoTime()}", "append")
      .select(col("w_start"), col("event_type"), col("n"))
  }

  /** The sessionize STRAGGLER/divergence boundary through the oracle
    * gate (r12 verdict #3: the emit-on-arrival trade was pinned by spec
    * tapes but never DuckDB-certified). Runs [[graft.streaming.Streams
    * .sessionize]] (30 min gap, 120 h lateness) over
    * [[sessionStragglerStreamDir]]'s deterministic three-trigger tape
    * (bulk / tail / late replay band), and the DuckDB oracle replays
    * the CUSTOM operator's exact per-batch semantics — every rule
    * measured and pinned before being modeled (WmProbeSpec,
    * SessionStragglerProbeSpec, the q127 boundary arithmetic):
    *   - trigger-0 arrival closures = the plain gap rule over the bulk
    *     slice (all but each user's last session);
    *   - a tail user's open bulk session closes on the first tail
    *     arrival (the guard band makes the > gap separation structural);
    *   - a non-tail user's open session times out at trigger 1 iff its
    *     ceil-ms timeout (last + 30 min) < ms-floored max BULK ts −
    *     120 h, STRICT — q127's rule against the mid-stream watermark;
    *   - trigger-2 replays segment against the RUNNING MAX of (open
    *     session end, prior replays): within gap — including arbitrarily
    *     far BELOW it — they merge (interval min/max, counts add),
    *     beyond gap they close it on arrival and restart; where the
    *     open session was already emitted, replays build fresh sessions
    *     — the TWO-SESSION SPLIT the batch gap rule (q34) would merge,
    *     live at every SF by a staging assertion;
    *   - each user's final session emits iff its ceil-ms timeout < the
    *     final watermark (ms-floored global max ts − 120 h) — covering
    *     both the round-12 emit-at-arrival branch (merged stragglers
    *     whose timeout the watermark already passed emit immediately;
    *     this used to KILL the query) and never-advancing-watermark
    *     retention (tail sessions and near-cutoff stragglers stay
    *     unemitted, exactly as the state store holds them).
    * The divergence vs the batch gap rule (q34's semantics on the same
    * tape) is LIVE at every SF, and so is EVERY oracle branch, via the
    * staging's replay-user sub-slices — measured per SF under the
    * round-14 predicates (sf0.001 / 0.01 / 0.1 / 1 users): seeded
    * merges 1/9/82/815, SEED-BREAK 1/8/77/774 (the %18 == 9 sub-slice
    * — r13 verdict #3 — whose upper-band restriction makes the first
    * straggler break the open seed structurally; it was live at sf0.1
    * only, by data accident), gone-idle timeout-then-replay 2/16/167,
    * replay-only 1/16/165, in-replay segment breaks 8/219/2044. Every
    * branch has a staging assert that fails by name if its population
    * dies; the gate is oracle-green at all four SFs on these
    * predicates.
    * Streaming-tagged for the bench's median policy.
    */
  def q238_stream_session_straggler(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0, noDataBatches = true)
    val streamDir = sessionStragglerStreamDir(s, dir)
    import s.implicits._
    val events = graft.streaming.Streams
      .eventsStream(s, streamDir, maxFilesPerTrigger = 1)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[graft.streaming.Streams.Event]
    val sessions = graft.streaming.Streams
      .sessionize(s, events, lateness = "120 hours").toDF()
    graft.streaming.Streams
      .runToCompletion(s, sessions, s"q238_sink_${System.nanoTime()}", "append")
      .select(col("user_id"), col("start").as("s_start"), col("end").as("s_end"),
        col("n_events"))
  }

  /** Certification of [[graft.operators.Compaction.compactParquet]]'s
    * Hive-partitioned path through the oracle gate (the operator was
    * spec-only: OperatorsSpec pins file counts and the in-place guard,
    * but no oracle ever checked the DATA through a compaction). A
    * deliberately fragmented layout — events fanned out to ~16 small
    * files per event_type partition directory — is compacted to a
    * one-file-per-partition budget (whole files ride the (dir, salt)
    * shuffle key; with budget 1 per partition the salt is constant, so
    * group count == output file count even under hash collisions). The
    * build asserts the file-count contract by name (exactly one part-
    * file per partition value, strictly fewer than before); the gate
    * then hashes the ENTIRE compacted relation against the raw table —
    * compaction must lose, duplicate, or corrupt NOTHING, including the
    * partition column round-tripped through directory names. WRITE-PATH
    * query (WriteAudit.audited).
    */
  def q235_file_compaction(s: SparkSession, dir: String): DataFrame = {
    val base = scratch("q235", dir)
    val root = java.nio.file.Paths.get(base)
    val marker = root.resolve("_graft_built")
    val src = s"$base/src"
    val dst = s"$base/dst"
    if (!java.nio.file.Files.exists(marker)) {
      deleteRecursively(root, strict = true)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          cents(col("value")).as("v"))
        .repartition(16, col("event_id")) // the small-file accretion under test
        .write.mode("overwrite").partitionBy("event_type").parquet(src)
      def partFiles(p: String): Int =
        scala.util.Using.resource(java.nio.file.Files.walk(java.nio.file.Paths.get(p))) { w =>
          w.filter(q => q.getFileName.toString.startsWith("part-")).count().toInt
        }
      val before = partFiles(src)
      // a per-partition byte budget no partition reaches → 1 file each
      val budget = graft.operators.Compaction.compactParquet(
        s, src, dst, targetBytes = 1L << 40)
      val after = partFiles(dst)
      require(after == budget && after < before,
        s"q235 compaction contract violated: $before files before, $after " +
          s"after (budget $budget — expected exactly one per partition, fewer than before)")
      java.nio.file.Files.createFile(marker)
    }
    s.read.parquet(dst)
      .select("event_id", "user_id", "event_type", "v")
  }

  /** Native `dropDuplicatesWithinWatermark` through the gate
    * ([[graft.streaming.Streams.dedupWithinWatermark]]): dedup on
    * (user_id, event_type) ALONE — no ts in the key — with
    * watermark-bounded state, vs q64's exact-(key, ts) dedup whose
    * state is the distinct key space. The source tape arrives in ONE
    * trigger (maxFilesPerTrigger covers the whole staged dir, and the
    * watermark only advances BETWEEN triggers), so no key's state can
    * evict mid-tape and the streaming answer must equal DISTINCT
    * (user_id, event_type) REGARDLESS of the tape's time span — the
    * gate does not depend on the testdata's span staying under the
    * lateness (r7 advice #2). The incremental eviction semantics are
    * Spark's own (state expires at ts + delay). Output is the key set,
    * which is arrival-order independent — the survivor's payload would
    * not be.
    */
  def q190_stream_dedup_within(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val streamDir = eventsStreamDir(s, dir)
    // the staged dir holds 4 data files; 64 keeps "whole tape in one
    // trigger" true even if staging fans out more files
    val stream = graft.streaming.Streams.eventsStream(s, streamDir, maxFilesPerTrigger = 64)
    val deduped = graft.streaming.Streams.dedupWithinWatermark(
      stream.select(col("user_id"), col("event_type"), col("ts")),
      Seq("user_id", "event_type"), lateness = "10 days")
    graft.streaming.Streams
      .runToCompletion(s, deduped, s"q190_sink_${System.nanoTime()}", "append")
      .select("user_id", "event_type")
  }

  /** `Dataset.observe` metrics — data-quality counters piggybacked on
    * a production action with ZERO extra scans: the metrics accumulate
    * inside the same pass that writes the data (here a `noop`-format
    * write), and the driver reads them from the completed action. The
    * q152 validator re-scans to check; this is the "metrics for free
    * on every pipeline write" form (Delta Live Tables expectations,
    * Deequ metric repositories). The result relation is built from the
    * observed values — metric-count-sized, never data-sized — and must
    * equal the oracle's from-scratch aggregation.
    */
  def q191_observe_metrics(s: SparkSession, dir: String): DataFrame = {
    val obs = new org.apache.spark.sql.Observation(s"q191_${System.nanoTime()}")
    val li = t(s, dir, "lineitem")
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
          .otherwise(0L)).as("n_bad_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_price_c"),
        max(col("l_orderkey")).as("max_orderkey")) // DISTINCT aggs disallowed in observe
    li.write.format("noop").mode("overwrite").save()
    val m = obs.get
    import s.implicits._
    // sum()/max() observe metrics are NULL on an empty input — surface
    // a typed zero instead of an opaque NPE when reused on arbitrary
    // tables (r7 advice #3); count() is never null
    def metric(k: String): Long = Option(m(k)).fold(0L)(_.asInstanceOf[Long])
    Seq(
      ("n_rows", metric("n_rows")),
      ("n_bad_qty", metric("n_bad_qty")),
      ("sum_price_c", metric("sum_price_c")),
      ("max_orderkey", metric("max_orderkey"))
    ).toDF("metric", "value")
  }

  /** HITS hubs-and-authorities in exact integer fixed point over the
    * bipartite repeat-business graph (customers = hubs, suppliers =
    * authorities — q151's edge build): a₀ = 1, h₁ = Σ a₀ over
    * neighbors (= degree), a₁ = Σ h₁, h₂ = Σ a₁, a₂ = Σ h₂ —
    * unnormalized power iteration (rank order is scale-invariant, so
    * skipping the float normalization keeps every value an exact
    * integer; decimal(38,0) absorbs the geometric growth). Each
    * iteration is one join + one aggregation carrying (node, score)
    * pairs — the q113 PageRank shuffle discipline; the oracle replays
    * the recurrence as unrolled CTEs.
    */
  def q192_hits(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
    val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
    val edges = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") >= 2)
      .select("c", "sp")
      .localCheckpoint(eager = false)
    // h1(c) = degree; a1(s) = sum h1 over c-neighbors; h2 = sum a1;
    // a2 = sum h2 — all in decimal(38,0)
    val h1 = edges.groupBy("c").agg(count(lit(1)).cast("decimal(38,0)").as("h1"))
    val a1 = edges.join(h1, "c")
      .groupBy("sp").agg(sum(col("h1")).as("a1"))
    val h2 = edges.join(a1, "sp")
      .groupBy("c").agg(sum(col("a1")).as("h2"))
    val a2 = edges.join(h2, "c")
      .groupBy("sp").agg(sum(col("h2")).as("a2"))
    a2.select(col("sp").as("s_suppkey"), col("a2").cast("long").as("auth_score"))
      .orderBy(col("auth_score").desc, col("s_suppkey"))
      .limit(20)
  }

  /** Spark 4 `transformWithState` through the oracle gate
    * ([[graft.streaming.Streams.runningTotals]]): per-user running
    * (count, value-cents) ledger in a typed ValueState, update-mode
    * emissions per trigger. Counters are monotone and values
    * nonnegative, so the final ledger row per user is the max over
    * emissions — which must equal the batch aggregate the oracle runs.
    * Exercises the modern arbitrary-state API end-to-end (RocksDB
    * store, 4 file-triggers) the way q63 exercises
    * flatMapGroupsWithState.
    */
  def q189_stream_running_totals(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val streamDir = eventsStreamDir(s, dir)
    val stream = graft.streaming.Streams.eventsStream(s, streamDir, maxFilesPerTrigger = 4)
    import s.implicits._
    val pairs = stream
      .select(col("user_id"), cents(col("value")).as("vc"))
      .as[(Long, Long)]
    val totals = graft.streaming.Streams.runningTotals(pairs)
    graft.streaming.Streams
      .runToCompletion(s, totals.toDF(), s"q189_sink_${System.nanoTime()}", "update")
      .groupBy("user_id")
      .agg(max(col("n_events")).as("n_events"), max(col("value_c")).as("value_c"))
  }

  /** Spark's NATIVE session_window in batch mode — the declarative
    * counterpart of q34's window-lag formulation and q63's custom
    * stateful stream. All three share the INCLUSIVE gap rule: an event
    * exactly `gap` after the previous one still merges (pinned by the
    * boundary unit test in OperatorsSpec — the window is [ts, ts+gap]
    * and windows merge when the next start is at-or-before the previous
    * end), so the oracle's new-session flag is `diff > gap`, same as
    * q34's. One shuffle on user_id; the same expression runs unchanged
    * under readStream with a watermark at scale.
    */
  def q125_session_window(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("n_events"))

  /** Physical-design layer through the driver gate: write lineitem
    * z-ordered on (l_orderkey, l_partkey) to a scratch dir, read a
    * 2-dimensional band back. The oracle is the same band on the SOURCE
    * table, so any clustering bug that drops, duplicates, or mutates
    * rows across the write/read round-trip breaks the hash match. The
    * file-SKIPPING benefit of the layout is measured in ZOrderSpec;
    * this pins end-to-end correctness of the write path.
    *
    * WRITE-PATH query (WriteAudit.audited): building the
    * DataFrame performs the scratch write — the operator under test.
    */
  def q94_zorder_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    val path = scratch("q94-zorder", dir)
    graft.core.ZOrder.writeZOrdered(li, path, Seq("l_orderkey", "l_partkey"), numFiles = 8)
    s.read.parquet(path)
      .where(col("l_orderkey").between(100, 700) && col("l_partkey").between(50, 150))
      .select("l_orderkey", "l_partkey", "l_quantity")
  }

  /** Tolerant JSON field extraction — the JSON analogue of the
    * tolerant-CSV path: JSON records derived in-plan from orders
    * (deterministic), every 7th truncated mid-object; `from_json` in
    * its default PERMISSIVE mode yields null for the malformed rows,
    * which the query surfaces as an is_corrupt flag instead of failing
    * the batch (a 100 TB crawl ingest NEVER dies on one bad record).
    * The oracle states the outcome straight from the corruption rule.
    */
  def q134_json_permissive(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val js = when(col("o_orderkey") % 7 === 0,
        concat(lit("{\"k\":"), col("o_custkey"))) // truncated — invalid
      .otherwise(concat(lit("{\"k\":"), col("o_custkey"), lit("}")))
    t(s, dir, "orders").select(col("o_orderkey"), js.as("__js"))
      .select(col("o_orderkey"),
        from_json(col("__js"), StructType(Seq(StructField("k", LongType))))
          .getField("k").as("k_val"))
      .select(col("o_orderkey"), col("k_val"),
        col("k_val").isNull.cast("long").as("is_corrupt"))
  }

  /** Hive-style partitioned layout through the gate: documents written
    * `partitionBy(lang)` to a scratch dir, read back with a lang
    * filter — partition PRUNING serves the predicate from the directory
    * listing (the read plan's PartitionFilters, zero row-level work for
    * the pruned languages; PartitionPruningSpec pins the file-skip),
    * and the round-trip must be the identity on the surviving rows,
    * which the oracle states from the SOURCE table. The partition
    * column round-trips through directory names (value → path → value),
    * so any escaping/typing bug breaks the hash. WRITE-PATH query
    * (WriteAudit.audited).
    */
  def q133_partitioned_write(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select("doc_id", "lang", "source", "n_chars")
    val path = scratch("q133-part", dir)
    docs.write.mode("overwrite").partitionBy("lang").parquet(path)
    s.read.parquet(path)
      .where(col("lang") === "en")
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** The custom TopKPerGroup physical operator (partial per-partition
    * heaps -> one shuffle of ≤ k rows/group/partition -> final heaps);
    * oracle = the window row_number formulation it replaces.
    */
  def q56_topk_custom(s: SparkSession, dir: String): DataFrame =
    graft.plans.TopK.perGroup(t(s, dir, "orders"),
      Seq("o_custkey"),
      Seq("o_totalprice" -> false, "o_orderkey" -> true), k = 3)
      .select("o_custkey", "o_orderkey", "o_totalprice")

  // ------------------------------------------------- pipeline: multimodal

  /** Real header decode end-to-end: synthesize minimal PNG/JPEG
    * containers from row ids with native column functions, then recover
    * width/height/channels by parsing actual magic bytes and big-endian
    * header fields in the mapPartitions decode stage. The oracle states
    * the dimensions straight from the id formulas — any parser bug
    * breaks the match.
    */
  def q35_multimodal(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.syntheticImages(t(s, dir, "documents"), "doc_id")
    Multimodal.decodeImages(s, media).toDF()
      .select("media_id", "format", "n_bytes", "width", "height", "channels")
  }

  /** Audio analogue of q35: synthesize canonical RIFF/WAVE headers from
    * row ids, recover rate/channels/sample-count by parsing the actual
    * little-endian chunk stream; oracle states the id formulas.
    */
  def q65_multimodal_audio(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.syntheticWavs(t(s, dir, "documents"), "doc_id")
    Multimodal.decodeAudios(s, media).toDF()
      .select("media_id", "format", "n_bytes", "sample_rate", "channels",
        "bits", "n_samples")
  }

  /** Video analogue of q35/q65: synthesize real MP4 box trees from row
    * ids, recover width/height/duration by walking genuine box sizes and
    * 16.16 fixed-point header fields; oracle states the id formulas.
    */
  def q66_multimodal_video(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.syntheticMp4s(t(s, dir, "documents"), "doc_id")
    Multimodal.decodeVideos(s, media).toDF()
      .select("media_id", "format", "n_bytes", "width", "height", "duration_ms")
  }

  /** Generator (UDTF-surface) operators: one row per sampled frame of
    * each media payload via the typed flatMap stage.
    */
  def q57_frames(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.fromText(t(s, dir, "documents"), "doc_id", "text")
    Multimodal.sampleFrames(s, media, everyNth = 7).toDF()
      .select(col("media_id"), col("frame_no").cast("long").as("frame_no"),
        col("n_bytes"))
  }

  /** posexplode over split tokens — the built-in generator path. */
  def q58_explode(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .where(col("doc_id") < 50)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))

  /** Window frames: running and windowed-frame aggregates over a
    * deterministic total order.
    */
  def q59_running_sum(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .where(col("o_custkey") < 300)
      .select(col("o_custkey"), col("o_orderkey"),
        sum(cents(col("o_totalprice")))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)).as("running_c"),
        max(cents(col("o_totalprice")))
          .over(w.rowsBetween(-2, 0)).as("max3_c"))
  }

  /** Array functions over the embeddings vectors (size / element_at /
    * slice / sort / aggregate-min), exact float arithmetic both sides.
    */
  def q60_array_funcs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .where(col("vec_id") < 256)
      .select(col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        element_at(col("embedding"), 1).cast("double").as("first_v"),
        array_min(col("embedding")).cast("double").as("min_v"),
        array_max(col("embedding")).cast("double").as("max_v"),
        element_at(array_sort(col("embedding")), 3).cast("double").as("third_smallest"))

  // -------------------------------------------------------- oracle SQL

  /** DuckDB-dialect equivalents. Generated pieces (lang markers, stopword
    * lists) come from the SAME Scala constants the Spark expressions use,
    * so the two sides cannot drift.
    */
  /** Non-overlapping token-occurrence counting — mirrors
    * [[TextAnalysis.wordOccurrences]] exactly, including the documented
    * adjacent-repeat convention (see its scaladoc for the measured
    * negative results on the exact alternatives).
    */
  private def occSql(textExpr: String, w: String): String = {
    val needle = s" $w "
    s"CAST((length(' ' || $textExpr || ' ') - length(replace(' ' || $textExpr || ' ', '$needle', ''))) / ${needle.length} AS BIGINT)"
  }
  private val tokCountSql =
    "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)"

  private def langScoreSql(lang: String): String =
    TextAnalysis.langMarkers.toMap.apply(lang)
      .map(w => occSql("text", w)).mkString("(", " + ", ")")

  private val langCaseSql: String = {
    val ls = TextAnalysis.langMarkers.map(_._1)
    val conds = ls.zipWithIndex.init.map { case (l, i) =>
      val later = ls.drop(i + 1)
      val c = later.map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $c THEN '$l'"
    }
    // leading null branch = the Spark side's null-text guard (scores
    // are null exactly when text is null)
    s"CASE WHEN s_${ls.head} IS NULL THEN NULL " +
      s"${conds.mkString(" ")} ELSE '${ls.last}' END"
  }

  private val stopSumSql: String =
    TextAnalysis.stopwords.map(w => occSql("text", w)).mkString("(", " + ", ")")

  /** SQL mirror of [[qualityExpr]] — q24/q97/q109 all interpolate THIS. */
  private lazy val qualitySql: String =
    s"least(CAST($tokCountSql AS DOUBLE)/64.0, 1.0)*0.5 + " +
      s"(CAST($stopSumSql AS DOUBLE)/$tokCountSql)*0.5"

  /** Shared CTE chain of the q98/q109 oracles: blocking keys (concat_ws
    * mirrors Spark's null-skipping), star edges, symmetric closure via
    * recursive CTE, components as (id, component). Must stay in
    * lockstep with [[docDupComponents]].
    */
  /** The d + e CTEs alone (blocking keys → star edges) — shared by the
    * dup-closure oracles and the q113 PageRank oracle.
    */
  private lazy val blockingEdgeCtesSql: String =
    """d AS (
           SELECT doc_id,
                  concat_ws('|', source, CAST(n_chars // 50 AS VARCHAR)) AS k1,
                  concat_ws('|', lang,   CAST(n_chars // 50 AS VARCHAR)) AS k2
           FROM documents),
         e AS (
           SELECT a, b FROM (
             SELECT min(doc_id) OVER (PARTITION BY k1) AS a, doc_id AS b FROM d
             UNION
             SELECT min(doc_id) OVER (PARTITION BY k2) AS a, doc_id AS b FROM d)
           WHERE a <> b)"""

  private lazy val dupClosureCtesSql: String =
    s"""$blockingEdgeCtesSql,
         sym AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
         reach(id, x) AS (
           SELECT doc_id, doc_id FROM d
           UNION
           SELECT r.id, s.b FROM reach r JOIN sym s ON s.a = r.x),
         comp AS (SELECT id, min(x) AS component FROM reach GROUP BY id)"""

  /** The q113 oracle: the identical integer PageRank recurrence as
    * `iterations` chained CTEs (r0 → r1 → …). Every division floors on
    * nonnegative BIGINTs (DuckDB `//` = Spark `div`); the final CAST
    * collapses DuckDB's HUGEINT sum widening per the BIGINT-cast rule.
    */
  private def pageRankOracleSql(iterations: Int, scale: Long): String = {
    val base = scale * 15L / 100L
    val iterCtes = (1 to iterations).map { k =>
      s"""r$k AS (
           SELECT n.doc_id,
                  CAST($base + (85 * coalesce(s.c, 0)) // 100 AS BIGINT) AS r
           FROM n LEFT JOIN (
             SELECT sym.dst AS doc_id, sum(r.r // deg.deg) AS c
             FROM sym JOIN deg ON deg.src = sym.src
                      JOIN r${k - 1} r ON r.doc_id = sym.src
             GROUP BY sym.dst) s ON s.doc_id = n.doc_id)"""
    }.mkString(",\n         ")
    s"""WITH $blockingEdgeCtesSql,
         sym AS (SELECT a AS src, b AS dst FROM e
                 UNION SELECT b AS src, a AS dst FROM e),
         deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
                 FROM sym GROUP BY src),
         n AS (SELECT doc_id FROM documents),
         r0 AS (SELECT doc_id, CAST($scale AS BIGINT) AS r FROM n),
         $iterCtes
       SELECT doc_id, r AS rank_fp FROM r$iterations"""
  }

  private val dotSql = (a: String, b: String) =>
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1,65), i -> $a[i]*$b[i])), (x,y) -> x+y)"

  /** Exact cosine top-5 for queries vec_id < 16 — the oracle for both the
    * brute-force scan (q30) and IVF probing every cell (q31).
    */
  private val knnOracleSql: String = {
    val dot = dotSql("qv", "cv")
    val na = dotSql("qv", "qv"); val nb = dotSql("cv", "cv")
    s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 16),
       c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
       sc AS (SELECT query_id, neighbor_id, ($dot)/(sqrt($na)*sqrt($nb)) AS cos
              FROM q, c WHERE neighbor_id <> query_id)
       SELECT query_id, rn AS rnk, neighbor_id FROM (
         SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
         FROM sc) WHERE rn <= 5"""
  }

  // ----------------------------------------------------------- registry

  /** One registered query: its builder, the DuckDB SQL that states its
    * result, and whether it executes through a streaming sink. The bench
    * keys its stabilization policy off `streaming` (min-of-3 stream
    * medians, no challenge re-runs), never off a name substring; batch
    * queries never set it (q125_session_window uses the session_window
    * EXPRESSION in batch mode).
    */
  final case class QuerySpec(name: String,
      build: (SparkSession, String) => DataFrame, oracle: String,
      streaming: Boolean = false)

  /** The query surface: adding a query is its `def` plus one row here. */
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q01_scan", q01_scan,
      "SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem"),
    QuerySpec("q02_filter", q02_filter,
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity < 24 AND l_returnflag = 'R'"),
    QuerySpec("q03_project_expr", q03_project_expr,
      s"""SELECT l_orderkey, l_linenumber,
         ${centsSql("l_extendedprice*(1-l_discount)")} AS revenue_c,
         ${centsSql("l_extendedprice*l_tax")} AS tax_c FROM lineitem"""),
    QuerySpec("q04_agg", q04_agg,
      s"""SELECT l_returnflag, l_linestatus,
         CAST(sum(${centsSql("l_quantity")}) AS BIGINT) AS sum_qty_c,
         CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT) AS sum_base_c,
         CAST(sum(${centsSql("l_extendedprice*(1-l_discount)")}) AS BIGINT) AS sum_disc_c,
         min(${centsSql("l_extendedprice")}) AS min_price_c,
         max(${centsSql("l_extendedprice")}) AS max_price_c,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag, l_linestatus"""),
    QuerySpec("q05_join_opt", q05_join_opt,
      s"""SELECT n_name, count(*) AS n,
         CAST(sum(${centsSql("l_extendedprice*(1-l_discount)")}) AS BIGINT) AS revenue_c
         FROM lineitem, orders, customer, nation
         WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
           AND c_nationkey = n_nationkey AND l_quantity < 24
         GROUP BY n_name"""),
    QuerySpec("q06_theta_join", q06_theta_join,
      "SELECT a.r_name AS r1, b.r_name AS r2 FROM region a JOIN region b ON a.r_regionkey < b.r_regionkey"),
    QuerySpec("q07_anti_join", q07_anti_join,
      "SELECT c_custkey FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)"),
    QuerySpec("q08_semi_join", q08_semi_join,
      "SELECT c_custkey FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)"),
    QuerySpec("q09_distinct", q09_distinct,
      "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer"),
    QuerySpec("q10_window", q10_window,
      """SELECT o_custkey, o_orderkey, rn FROM (
         SELECT o_custkey, o_orderkey,
                row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
         FROM orders) WHERE rn <= 3"""),
    QuerySpec("q11_topk", q11_topk,
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),
    QuerySpec("q12_intersect", q12_intersect,
      "SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING' INTERSECT SELECT o_custkey AS k FROM orders"),
    QuerySpec("q13_except", q13_except,
      "SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING' EXCEPT SELECT o_custkey AS k FROM orders WHERE o_totalprice > 400000"),
    QuerySpec("q14_rollup", q14_rollup,
      "SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"),
    QuerySpec("q15_scalar_funcs", q15_scalar_funcs,
      """SELECT p_partkey, upper(p_brand) AS brand_u,
         CAST(length(p_name) AS BIGINT) AS name_len,
         substring(p_type, 1, 5) AS type5,
         p_brand || '#' || p_type AS bt,
         abs(p_size - 25) AS size_dist,
         p_size % 7 AS size_mod FROM part"""),
    QuerySpec("q16_date_funcs", q16_date_funcs,
      """SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS yr,
         CAST(month(o_orderdate) AS BIGINT) AS mo,
         CAST(day(o_orderdate) AS BIGINT) AS dom,
         date_trunc('month', o_orderdate) AS month_start FROM orders"""),
    QuerySpec("q17_agg_derived", q17_agg_derived,
      s"""SELECT o_orderpriority, n, sum_price_c, min_price, max_price,
         CAST(sum_price_c AS DOUBLE)/100/n AS avg_price FROM (
           SELECT o_orderpriority, count(*) AS n,
             CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS sum_price_c,
             min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
           FROM orders GROUP BY o_orderpriority)"""),
    QuerySpec("q18_histogram", q18_histogram,
      """WITH s AS (SELECT min(p_size) AS mn, max(p_size) AS mx FROM part)
         SELECT CAST(least(CAST(floor((p_size - mn)/greatest(1.0, (1.0 + mx - mn)/100)) AS BIGINT), 99) AS BIGINT) AS bucket,
                count(*) AS cnt
         FROM part, s GROUP BY 1"""),
    QuerySpec("q20_dedup_exact", q20_dedup_exact,
      "SELECT CAST(min(doc_id) AS BIGINT) AS doc_id FROM documents GROUP BY text"),
    QuerySpec("q21_dedup_tokenset", q21_dedup_tokenset,
      """SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, count(*) AS n_dups
         FROM documents GROUP BY list_sort(list_distinct(string_split(text, ' ')))"""),
    QuerySpec("q22_token_stats", q22_token_stats,
      s"""SELECT doc_id, $tokCountSql AS n_tokens,
         CAST(length(replace(text, ' ', '')) AS DOUBLE) / $tokCountSql AS mean_tok_len,
         CAST($stopSumSql AS DOUBLE) / $tokCountSql AS stop_ratio
         FROM documents"""),
    QuerySpec("q23_lang_id", q23_lang_id, {
      val scoreCols = TextAnalysis.langMarkers.map { case (l, _) =>
        s"${langScoreSql(l)} AS s_$l"
      }.mkString(", ")
      s"""SELECT doc_id, lang, $langCaseSql AS lang_pred FROM (
         SELECT doc_id, lang, $scoreCols FROM documents)"""
    }),
    QuerySpec("q24_quality", q24_quality,
      s"""SELECT doc_id, $qualitySql AS quality
         FROM documents"""),
    QuerySpec("q25_fingerprint", q25_fingerprint,
      """SELECT doc_id,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
           (acc, c) -> (acc*31 + c) % 1000000007) AS fp
         FROM documents"""),
    // Recall invariant: Spark emits (exact pairs ≥ 0.5) ∩ (LSH candidates);
    // the oracle states the full exact pair set. Equal iff LSH recall = 1.
    QuerySpec("q26_minhash", q26_minhash,
      """WITH sh AS (
           SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
             THEN list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [text] END) AS s
           FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
                 FROM documents WHERE doc_id < 200))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5"""),
    // Pigeonhole identity: banded and brute-force SimHash pair sets must
    // not disagree — the oracle states the symmetric difference is empty.
    QuerySpec("q27_simhash", q27_simhash,
      """SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b,
                CAST(NULL AS BIGINT) AS hamming
         WHERE FALSE"""),
    QuerySpec("q28_embed_neardup", q28_embed_neardup, {
      val dot = dotSql("va", "vb")
      val na = dotSql("va", "va"); val nb = dotSql("vb", "vb")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings WHERE vec_id < 500)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                ($dot)/(sqrt($na)*sqrt($nb)) AS cosine
         FROM (SELECT vec_id, v AS va FROM e) a
         JOIN (SELECT vec_id, v AS vb FROM e) b ON a.vec_id < b.vec_id
         WHERE ($dot)/(sqrt($na)*sqrt($nb)) >= 0.45"""
    }),
    // q28's pair predicate + recursive closure; every capped vec appears,
    // isolated ones as their own component (componentsFor contract)
    QuerySpec("q128_embed_clusters", q128_embed_clusters, {
      val dot = dotSql("va", "vb")
      val na = dotSql("va", "va"); val nb = dotSql("vb", "vb")
      s"""WITH RECURSIVE
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE vec_id < 500),
         p AS (SELECT a.vec_id AS ia, b.vec_id AS ib
               FROM (SELECT vec_id, v AS va FROM e) a
               JOIN (SELECT vec_id, v AS vb FROM e) b ON a.vec_id < b.vec_id
               WHERE ($dot)/(sqrt($na)*sqrt($nb)) >= 0.45),
         sym AS (SELECT ia, ib FROM p UNION SELECT ib AS ia, ia AS ib FROM p),
         reach(id, x) AS (
           SELECT vec_id, vec_id FROM e
           UNION
           SELECT r.id, s.ib FROM reach r JOIN sym s ON s.ia = r.x),
         comp AS (SELECT id, min(x) AS component FROM reach GROUP BY id)
         SELECT id AS vec_id, CAST(component AS BIGINT) AS component,
                CAST(CASE WHEN component = id THEN 1 ELSE 0 END AS BIGINT)
                  AS is_canonical
         FROM comp"""
    }),
    // forward as-of replayed as min-aggs (q33's shape with >= and min)
    QuerySpec("q129_asof_forward", q129_asof_forward,
      """WITH c AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'click'),
         p AS (SELECT event_id AS p_event, user_id AS p_user, ts AS p_ts
               FROM events WHERE event_type = 'purchase'),
         m AS (
           SELECT c.event_id, min(p.p_ts) AS next_ts
           FROM c JOIN p ON p.p_user = c.user_id AND p.p_ts >= c.ts
           GROUP BY c.event_id)
         SELECT c.event_id, c.user_id, m.next_ts AS next_purchase_ts,
                CAST(min(p.p_event) AS BIGINT) AS next_purchase_id
         FROM c
         JOIN m ON m.event_id = c.event_id
         JOIN p ON p.p_user = c.user_id AND p.p_ts = m.next_ts
         GROUP BY c.event_id, c.user_id, m.next_ts"""),
    // asymmetric containment |A∩B|/|A| — integer-cardinality quotient,
    // bit-identical cross-engine; shingle CTE shared with q26's form
    QuerySpec("q130_containment", q130_containment,
      """WITH sh AS (
           SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
             THEN list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [text] END) AS s
           FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
                 FROM documents WHERE doc_id < 500))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s)
                  AS containment
         FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
         WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= 0.6"""),
    // doubled-median MAD gate: every percentile input is BIGINT (the
    // q91 parity class); 2*med is exact once rounded
    QuerySpec("q131_mad_outliers", q131_mad_outliers,
      s"""WITH o AS (SELECT o_orderkey, o_orderpriority,
                  ${centsSql("o_totalprice")} AS price_c FROM orders),
         med AS (SELECT o_orderpriority,
                        CAST(round(quantile_cont(price_c, 0.5) * 2) AS BIGINT) AS med_x2
                 FROM o GROUP BY o_orderpriority),
         mad AS (SELECT o.o_orderpriority,
                        quantile_cont(abs(2*price_c - med_x2), 0.5) AS mad_x2,
                        any_value(med_x2) AS m2
                 FROM o JOIN med USING (o_orderpriority)
                 GROUP BY o.o_orderpriority)
         SELECT o_orderkey, o_orderpriority, price_c
         FROM o JOIN mad USING (o_orderpriority)
         WHERE CAST(abs(2*price_c - m2) AS DOUBLE) > 2.0 * mad_x2"""),
    QuerySpec("q29_ngram_jaccard", q29_ngram_jaccard,
      """WITH sh AS (
           SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
             THEN list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [text] END) AS s
           FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
                 FROM documents WHERE doc_id < 200))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.3"""),
    QuerySpec("q30_knn_brute", q30_knn_brute, knnOracleSql),
    QuerySpec("q31_knn_ivf", q31_knn_ivf, knnOracleSql),
    // knn oracle with the label-mismatch predicate; rank-only output so
    // no float crosses the compare
    QuerySpec("q155_hard_negatives", q155_hard_negatives, {
      val dot = dotSql("qv", "cv")
      val na = dotSql("qv", "qv"); val nb = dotSql("cv", "cv")
      s"""WITH q AS (SELECT vec_id AS query_id,
                       CAST(embedding AS DOUBLE[]) AS qv, label AS ql
                     FROM embeddings WHERE vec_id < 32),
         c AS (SELECT vec_id AS neighbor_id,
                 CAST(embedding AS DOUBLE[]) AS cv, label AS cl
               FROM embeddings),
         sc AS (SELECT query_id, neighbor_id,
                       ($dot)/(sqrt($na)*sqrt($nb)) AS cos
                FROM q, c
                WHERE neighbor_id <> query_id AND cl <> ql)
         SELECT query_id, rn AS rnk, neighbor_id FROM (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS rn
           FROM sc) WHERE rn <= 3"""
    }),
    QuerySpec("q61_knn_ivf_trained", q61_knn_ivf_trained, knnOracleSql),
    QuerySpec("q62_stream_join", q62_stream_join,
      """SELECT a.user_id AS l_user, a.ts AS l_ts, a.event_id AS l_event,
                b.ts AS r_ts, b.event_id AS r_event
         FROM events a JOIN events b
           ON a.user_id = b.user_id AND a.event_id < b.event_id
          AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 15 MINUTE""", streaming = true),
    // matched rows = the batch left join's inner part (watermark 0 in
    // the data batch drops nothing); null rows = unmatched lefts whose
    // state value watermark l_ts + 15min (ms) sits strictly below the
    // final ms-floored watermark max(ts) - 30min — the eviction moment
    QuerySpec("q132_stream_outer_join", q132_stream_outer_join,
      """WITH ev AS (SELECT * FROM events WHERE user_id % 3 = 0),
         wm AS (SELECT (epoch_us(max(ts)) // 1000) - 1800000 AS w
                FROM ev),
         cand AS (
           SELECT a.user_id AS l_user, a.ts AS l_ts, a.event_id AS l_event,
                  b.ts AS r_ts, b.event_id AS r_event
           FROM ev a LEFT JOIN ev b
             ON a.user_id = b.user_id AND a.event_id < b.event_id
            AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 15 MINUTE)
         SELECT l_user, l_ts, l_event, r_ts, r_event
         FROM cand CROSS JOIN wm
         WHERE r_event IS NOT NULL
            OR (epoch_us(l_ts) // 1000) + 900000 < wm.w""", streaming = true),
    QuerySpec("q63_stream_sessions", q63_stream_sessions,
      """WITH x AS (
           SELECT user_id, ts, event_id,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
           FROM events),
         y AS (
           SELECT user_id, ts, event_id,
                  CASE WHEN pts IS NULL
                       OR (epoch_us(ts) - epoch_us(pts)) > 1800000000
                       THEN 1 ELSE 0 END AS ns
           FROM x),
         z AS (
           SELECT user_id, ts,
                  sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM y),
         se AS (
           SELECT user_id, sid, min(ts) AS s_start, max(ts) AS s_end,
                  CAST(count(*) AS BIGINT) AS n_events
           FROM z GROUP BY user_id, sid)
         SELECT user_id, s_start, s_end, n_events
         FROM se
         WHERE sid < (SELECT max(sid) FROM se s2 WHERE s2.user_id = se.user_id)""", streaming = true),
    QuerySpec("q64_stream_dedup", q64_stream_dedup,
      "SELECT DISTINCT user_id, event_type, ts FROM events", streaming = true),
    // q63's session chain + the timeout population: last sessions whose
    // ceil-ms timeout (end + gap) sits strictly below the ms-floored
    // final watermark (max ts - lateness) — Spark's exact boundary rule
    QuerySpec("q127_stream_session_timeout", q127_stream_session_timeout,
      """WITH x AS (
           SELECT user_id, ts, event_id,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
           FROM events),
         y AS (
           SELECT user_id, ts, event_id,
                  CASE WHEN pts IS NULL
                       OR (epoch_us(ts) - epoch_us(pts)) > 1800000000
                       THEN 1 ELSE 0 END AS ns
           FROM x),
         z AS (
           SELECT user_id, ts,
                  sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM y),
         se AS (
           SELECT user_id, sid, min(ts) AS s_start, max(ts) AS s_end,
                  CAST(count(*) AS BIGINT) AS n_events
           FROM z GROUP BY user_id, sid),
         wm AS (SELECT (epoch_us(max(ts)) // 1000) - 1800000 AS w FROM events)
         SELECT user_id, s_start, s_end, n_events
         FROM se CROSS JOIN wm
         WHERE sid < (SELECT max(sid) FROM se s2 WHERE s2.user_id = se.user_id)
            OR ((epoch_us(s_end) + 1800000000 + 999) // 1000) < wm.w""", streaming = true),
    QuerySpec("q65_multimodal_audio", q65_multimodal_audio,
      """SELECT CAST(doc_id AS BIGINT) AS media_id, 'wav' AS format,
         CAST(44 AS BIGINT) AS n_bytes,
         CAST(8000 + (doc_id % 8) * 1000 AS INTEGER) AS sample_rate,
         CAST(1 + doc_id % 2 AS INTEGER) AS channels, 16 AS bits,
         CAST(100 + (doc_id * 13) % 900 AS BIGINT) AS n_samples
         FROM documents"""),
    QuerySpec("q66_multimodal_video", q66_multimodal_video,
      """SELECT CAST(doc_id AS BIGINT) AS media_id, 'mp4' AS format,
         CAST(232 AS BIGINT) AS n_bytes,
         CAST(16 + doc_id % 1920 AS INTEGER) AS width,
         CAST(16 + (doc_id * 3) % 1080 AS INTEGER) AS height,
         CAST(1000 + doc_id % 60000 AS BIGINT) AS duration_ms
         FROM documents"""),
    QuerySpec("q67_decontaminate", q67_decontaminate,
      """WITH sh AS (
           SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
             THEN list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [text] END) AS s
           FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)),
         bench AS (SELECT DISTINCT u.g FROM sh, unnest(sh.s) AS u(g) WHERE doc_id < 20),
         corpus AS (SELECT doc_id, u.g FROM sh, unnest(sh.s) AS u(g) WHERE doc_id >= 20)
         SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
         FROM corpus c JOIN bench b ON c.g = b.g
         GROUP BY c.doc_id"""),
    QuerySpec("q69_tpch_q4", q69_tpch_q4,
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
         GROUP BY o_orderpriority"""),
    QuerySpec("q70_tpch_q14", q70_tpch_q14, {
      val rev = centsSql("l_extendedprice*(1-l_discount)")
      s"""SELECT
         CAST(sum(CASE WHEN p_type = 'PROMO' THEN $rev ELSE 0 END) AS BIGINT) AS promo_c,
         CAST(sum($rev) AS BIGINT) AS total_c,
         CAST(sum(CASE WHEN p_type = 'PROMO' THEN $rev ELSE 0 END) AS DOUBLE)
           / CAST(sum($rev) AS DOUBLE) AS promo_share
         FROM lineitem, part
         WHERE l_partkey = p_partkey
           AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'"""
    }),
    QuerySpec("q71_tpch_q19", q71_tpch_q19,
      s"""SELECT coalesce(CAST(sum(${centsSql("l_extendedprice*(1-l_discount)")}) AS BIGINT), 0) AS revenue_c,
         CAST(count(*) AS BIGINT) AS n
         FROM lineitem, part
         WHERE l_partkey = p_partkey AND (
           (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
              AND l_quantity BETWEEN 1 AND 25) OR
           (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
              AND l_quantity BETWEEN 10 AND 40))"""),
    QuerySpec("q72_tpch_q17", q72_tpch_q17,
      s"""SELECT coalesce(CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT), 0) AS sum_price_c,
         CAST(count(*) AS BIGINT) AS n
         FROM lineitem l, part p,
           (SELECT l_partkey AS ap_partkey, avg(l_quantity) * 0.2 AS qty_threshold
            FROM lineitem GROUP BY l_partkey) a
         WHERE l.l_partkey = p.p_partkey AND p.p_brand = 'Brand#3'
           AND l.l_partkey = a.ap_partkey
           AND l.l_quantity < a.qty_threshold"""),
    QuerySpec("q73_tpch_q2", q73_tpch_q2,
      s"""WITH ps AS (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
            FROM lineitem)
         SELECT p_partkey, s_suppkey, s_name,
                ${centsSql("s_acctbal")} AS s_acctbal_c
         FROM part, ps, supplier
         WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey AND p_size = 10
           AND s_acctbal = (SELECT min(s2.s_acctbal) FROM ps ps2, supplier s2
                            WHERE ps2.ps_partkey = p_partkey
                              AND s2.s_suppkey = ps2.ps_suppkey)"""),
    QuerySpec("q74_tpch_q7", q74_tpch_q7,
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                CAST(date_part('year', l_shipdate) AS BIGINT) AS l_year,
                CAST(sum(${centsSql("l_extendedprice*(1-l_discount)")}) AS BIGINT) AS revenue_c
         FROM supplier, lineitem, orders, customer, nation n1, nation n2
         WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
           AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
           AND c_nationkey = n2.n_nationkey
           AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') OR
                (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
           AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY 1, 2, 3"""),
    QuerySpec("q75_tpch_q13", q75_tpch_q13,
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
           SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
           FROM customer LEFT JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
           GROUP BY c_custkey)
         GROUP BY c_count"""),
    QuerySpec("q76_tpch_q18", q76_tpch_q18,
      s"""SELECT c_custkey, c_name, o_orderkey, o_orderdate,
                ${centsSql("o_totalprice")} AS totalprice_c,
                CAST(sum(${centsSql("l_quantity")}) AS BIGINT) AS sum_qty_c
         FROM customer, orders, lineitem
         WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
         GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
         HAVING sum(${centsSql("l_quantity")}) > 25000"""),
    QuerySpec("q77_tpch_q22", q77_tpch_q22,
      s"""SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
                CAST(sum(${centsSql("c_acctbal")}) AS BIGINT) AS totacctbal_c
         FROM customer c
         WHERE ${centsSql("c_acctbal")} >
               (SELECT CAST(sum(${centsSql("c_acctbal")}) AS BIGINT) // count(*)
                FROM customer WHERE c_acctbal > 0)
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c.c_custkey
                             AND o_orderpriority = '1-URGENT')
         GROUP BY c_nationkey"""),
    QuerySpec("q78_tpch_q15", q78_tpch_q15,
      s"""WITH rev AS (
           SELECT l_suppkey,
                  CAST(sum(${centsSql("l_extendedprice*(1-l_discount)")}) AS BIGINT) AS total_rev_c
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, total_rev_c
         FROM supplier, rev
         WHERE s_suppkey = l_suppkey
           AND total_rev_c = (SELECT max(total_rev_c) FROM rev)"""),
    QuerySpec("q79_tpch_q16", q79_tpch_q16,
      """SELECT p_brand, p_size, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         FROM lineitem, part
         WHERE p_partkey = l_partkey
           AND p_brand <> 'Brand#1' AND p_type <> 'PROMO'
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY p_brand, p_size"""),
    QuerySpec("q80_tpch_q21", q80_tpch_q21,
      """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
         FROM supplier, lineitem l1, orders
         WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
           AND o_orderstatus = 'F'
           AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
         GROUP BY s_name"""),
    QuerySpec("q81_merge_upsert", q81_merge_upsert,
      s"""WITH changes AS (
           SELECT o_orderkey, o_custkey, o_orderstatus,
                  o_totalprice + 10 AS o_totalprice,
                  CASE WHEN o_orderkey % 15 = 0 THEN 'D' ELSE 'U' END AS op
           FROM orders WHERE o_orderkey % 5 = 0
           UNION ALL
           SELECT -(o_orderkey + 1), o_custkey, o_orderstatus, o_totalprice, 'I'
           FROM orders WHERE o_orderkey % 7 = 0),
         all_rows AS (
           SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                  CAST(NULL AS VARCHAR) AS op, 0 AS prio FROM orders
           UNION ALL
           SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, op, 1
           FROM changes),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                        ORDER BY prio DESC) AS rn
           FROM all_rows)
         SELECT o_orderkey, o_custkey, o_orderstatus,
                ${centsSql("o_totalprice")} AS price_c
         FROM ranked WHERE rn = 1 AND (op IS NULL OR op <> 'D')"""),
    QuerySpec("q82_stratified_sample", q82_stratified_sample,
      """SELECT doc_id, lang,
                ((doc_id % 1000000000) * 2654435761) % 10000 AS bucket
         FROM documents
         WHERE ((doc_id % 1000000000) * 2654435761) % 10000 <
               CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500
                         WHEN 'zh' THEN 1000 ELSE -1 END"""),
    QuerySpec("q83_pack_shards", q83_pack_shards,
      s"""SELECT doc_id, lang, n_tokens,
                CAST(coalesce(sum(n_tokens) OVER (
                  PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 1000
                  AS BIGINT) AS shard_id
         FROM (SELECT doc_id, lang, $tokCountSql AS n_tokens FROM documents)"""),
    QuerySpec("q86_tpch_q8", q86_tpch_q8, {
      val rev = centsSql("l_extendedprice*(1-l_discount)")
      s"""SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS o_year,
                CAST(sum(CASE WHEN n2.n_name = 'NATION_1' THEN $rev ELSE 0 END) AS BIGINT) AS nation_rev_c,
                CAST(sum($rev) AS BIGINT) AS total_rev_c,
                CAST(sum(CASE WHEN n2.n_name = 'NATION_1' THEN $rev ELSE 0 END) AS DOUBLE)
                  / CAST(sum($rev) AS DOUBLE) AS mkt_share
         FROM lineitem, part, supplier, orders, customer,
              nation n1, nation n2, region
         WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
           AND l_orderkey = o_orderkey AND o_custkey = c_custkey
           AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
           AND s_nationkey = n2.n_nationkey
           AND p_type = 'PROMO' AND r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY 1"""
    }),
    QuerySpec("q87_tpch_q9", q87_tpch_q9,
      s"""SELECT n_name AS nation,
                CAST(date_part('year', o_orderdate) AS BIGINT) AS o_year,
                CAST(sum(${centsSql("l_extendedprice*(1-l_discount)")}
                         - ${centsSql("p_retailprice*l_quantity")}) AS BIGINT) AS profit_c
         FROM lineitem, part, supplier, orders, nation
         WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
           AND l_orderkey = o_orderkey AND s_nationkey = n_nationkey
           AND p_name LIKE '%bolt%'
         GROUP BY 1, 2"""),
    QuerySpec("q88_tpch_q11", q88_tpch_q11,
      s"""WITH v AS (
           SELECT l_partkey, CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT) AS val_c
           FROM lineitem, supplier
           WHERE l_suppkey = s_suppkey AND s_nationkey = 3
           GROUP BY l_partkey)
         SELECT l_partkey, val_c FROM v
         WHERE val_c > (SELECT sum(val_c) // 500 FROM v)"""),
    QuerySpec("q89_tpch_q12", q89_tpch_q12,
      """SELECT l_returnflag,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                              THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                              THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM orders, lineitem
         WHERE o_orderkey = l_orderkey
           AND l_shipdate > o_orderdate + INTERVAL 60 DAY
           AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY l_returnflag"""),
    QuerySpec("q90_tpch_q20", q90_tpch_q20,
      s"""WITH lw AS (
           SELECT l_partkey, l_suppkey, ${centsSql("l_quantity")} AS q_c
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'),
         ps AS (SELECT l_partkey, l_suppkey, CAST(sum(q_c) AS BIGINT) AS sq_c
                FROM lw GROUP BY 1, 2),
         tot AS (SELECT l_partkey, CAST(sum(q_c) AS BIGINT) AS tq_c,
                        count(DISTINCT l_suppkey) AS n_sup
                 FROM lw GROUP BY 1)
         SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS n_excess_parts
         FROM supplier, ps, tot
         WHERE s_nationkey = 5 AND s_suppkey = ps.l_suppkey
           AND ps.l_partkey = tot.l_partkey
           AND tot.n_sup >= 2 AND ps.sq_c * 2 > tot.tq_c
         GROUP BY s_suppkey, s_name"""),
    QuerySpec("q92_stream_enrich", q92_stream_enrich,
      s"""SELECT c_mktsegment, count(*) AS n,
                CAST(sum(${centsSql("value")}) AS BIGINT) AS sum_value_c
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY c_mktsegment""", streaming = true),
    QuerySpec("q120_stream_antijoin", q120_stream_antijoin,
      s"""SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(${centsSql("value")}) AS BIGINT) AS sum_value_c
         FROM events e
         WHERE NOT EXISTS
           (SELECT 1 FROM customer
            WHERE c_custkey % 3 = 0 AND c_custkey = e.user_id)
         GROUP BY user_id""", streaming = true),
    // the oracle reads the SOURCE table: the XML round-trip must be the
    // identity on rows
    QuerySpec("q121_xml_roundtrip", q121_xml_roundtrip,
      s"""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(${centsSql("c_acctbal")}) AS BIGINT) AS sum_acctbal_c,
                min(c_custkey) AS min_key, max(c_custkey) AS max_key
         FROM customer GROUP BY c_mktsegment"""),
    // recall contract honored == empty violation set (q95/q96 pattern)
    QuerySpec("q122_ann_recall", q122_ann_recall,
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS DOUBLE) AS recall
         WHERE FALSE"""),
    // exact fixed-point idf, tf·idf in HUGEINT (the decimal rule), top
    // term per doc by (score desc, token asc)
    QuerySpec("q123_tfidf", q123_tfidf,
      """WITH tk AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS token
           FROM documents),
         tk2 AS (SELECT doc_id, token FROM tk WHERE length(token) > 0),
         tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
                FROM tk2 GROUP BY doc_id, token),
         df AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
                FROM tk2 GROUP BY token),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.token,
                  CAST(tf.tf AS HUGEINT) * ((1000000 * n.n) // df.df) AS score
           FROM tf JOIN df ON df.token = tf.token CROSS JOIN n)
         SELECT doc_id, token AS top_token, CAST(score AS BIGINT) AS score_fp
         FROM (SELECT doc_id, token, score,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY score DESC, token) AS rn
               FROM scored) WHERE rn = 1"""),
    // top-25 quality docs per source, ties doc_id asc (quality formula
    // bit-parity proven by q24)
    QuerySpec("q124_source_cap", q124_source_cap,
      s"""SELECT source, doc_id, quality FROM (
           SELECT source, doc_id, $qualitySql AS quality,
                  row_number() OVER (PARTITION BY source
                                     ORDER BY $qualitySql DESC, doc_id) AS rn
           FROM documents) WHERE rn <= 25"""),
    // native session_window merges INCLUSIVELY at the gap boundary
    // (pinned by OperatorsSpec), so the new-session flag is diff > gap —
    // identical to q34's custom rule; end = last ts + gap
    QuerySpec("q125_session_window", q125_session_window,
      """WITH x AS (
           SELECT user_id, ts, event_id,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
           FROM events),
         y AS (
           SELECT user_id, ts, event_id,
                  CASE WHEN pts IS NULL
                       OR (epoch_us(ts) - epoch_us(pts)) > 1800000000
                       THEN 1 ELSE 0 END AS ns
           FROM x),
         z AS (
           SELECT user_id, ts,
                  sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM y)
         SELECT user_id, min(ts) AS s_start,
                max(ts) + INTERVAL 30 MINUTE AS s_end,
                CAST(count(*) AS BIGINT) AS n_events
         FROM z GROUP BY user_id, sid"""),
    // q125's inclusive-gap session chain + the append-mode emission
    // population: sessions whose µs end (last ts + gap) sits at-or-below
    // the ms-floored final watermark × 1000 — the INCLUSIVE <= pinned by
    // StreamingSpec (vs q127's strict < timeout rule)
    QuerySpec("q135_stream_session_window", q135_stream_session_window,
      """WITH x AS (
           SELECT user_id, ts, event_id,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
           FROM events),
         y AS (
           SELECT user_id, ts, event_id,
                  CASE WHEN pts IS NULL
                       OR (epoch_us(ts) - epoch_us(pts)) > 1800000000
                       THEN 1 ELSE 0 END AS ns
           FROM x),
         z AS (
           SELECT user_id, ts,
                  sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM y),
         se AS (
           SELECT user_id, min(ts) AS s_start,
                  max(ts) + INTERVAL 30 MINUTE AS s_end,
                  CAST(count(*) AS BIGINT) AS n_events,
                  max(ts) AS s_last
           FROM z GROUP BY user_id, sid),
         wm AS (SELECT ((epoch_us(max(ts)) // 1000) - 1800000) * 1000 AS w_us
                FROM events)
         SELECT user_id, s_start, s_end, n_events
         FROM se CROSS JOIN wm
         WHERE epoch_us(s_last) + 1800000000 <= wm.w_us""", streaming = true),
    // vocab = tokens in >= 10% of docs; n_oov counts occurrences (with
    // multiplicity) outside it; survivors pass n_oov*50 <= n_tokens
    QuerySpec("q136_oov_filter", q136_oov_filter, oovOracleSql),
    // the streaming at-ingest form computes the SAME relation (static
    // vocab, stateless per-batch filter), so it shares q136's oracle —
    // which also pins the Spark-side regexp_count formulation against
    // the explode-join arithmetic
    QuerySpec("q139_stream_oov_filter", q139_stream_oov_filter, oovOracleSql, streaming = true),
    // exclusive per-lang prefix sums + exact cross-multiplied systematic
    // boundaries: keep iff (k*(cum+w)) // tot > (k*cum) // tot, k=25
    QuerySpec("q140_pps_sample", q140_pps_sample,
      s"""WITH d AS (
            SELECT doc_id, lang, $tokCountSql AS n_tokens FROM documents),
          c AS (
            SELECT doc_id, lang, n_tokens,
                   coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
                   sum(n_tokens) OVER (PARTITION BY lang) AS tot
            FROM d)
          SELECT doc_id, lang, n_tokens FROM c
          WHERE (25 * (cum + n_tokens)) // tot > (25 * cum) // tot"""),
    // deterministic span corruption: identical (doc_id, span) mix, span
    // width 3, 1-in-5 masked; string_agg(ORDER BY i) skips NULLs exactly
    // like Spark's array_join over a transform that yields them
    QuerySpec("q141_span_corrupt", q141_span_corrupt, spanCorruptOracleSql),
    // streaming at-ingest variant of q141 — per-row deterministic map, so
    // the batch oracle is the authority (the q139/q120 pattern)
    QuerySpec("q143_stream_span_corrupt", q143_stream_span_corrupt, spanCorruptOracleSql, streaming = true),
    // exact cross-multiplied total-variation drift per source; sums cast
    // back to BIGINT (DuckDB widens to HUGEINT)
    QuerySpec("q142_unigram_drift", q142_unigram_drift,
      """WITH tk AS (
           SELECT source AS g, unnest(string_split(text, ' ')) AS tok
           FROM documents),
         cnt AS (SELECT g, tok, count(*) AS c FROM tk GROUP BY 1, 2),
         gcnt AS (SELECT tok, CAST(sum(c) AS BIGINT) AS cgl FROM cnt GROUP BY 1),
         tg AS (SELECT g, CAST(sum(c) AS BIGINT) AS t_g FROM cnt GROUP BY 1),
         tall AS (SELECT CAST(sum(cgl) AS BIGINT) AS t_all FROM gcnt),
         agg AS (
           SELECT cnt.g, tg.t_g, tall.t_all,
                  CAST(sum(abs(cnt.c * tall.t_all - gcnt.cgl * tg.t_g)) AS BIGINT) AS main,
                  CAST(sum(gcnt.cgl) AS BIGINT) AS present
           FROM cnt
           JOIN gcnt USING (tok)
           JOIN tg USING (g)
           CROSS JOIN tall
           GROUP BY 1, 2, 3)
         SELECT g AS source,
                main + t_g * (t_all - present) AS tv_num,
                t_g AS n_group, t_all AS n_total,
                (500 * (main + t_g * (t_all - present))) // (t_g * t_all)
                  AS tv_permille
         FROM agg"""),
    // identical (count DESC, token ASC) vocabulary rank; position order
    // restored via ordered string_agg on both sides
    QuerySpec("q144_vocab_encode", q144_vocab_encode,
      """WITH tk AS (
           SELECT doc_id,
                  unnest(string_split(text, ' ')) AS tok,
                  generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
           FROM documents),
         cnt AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
         vocab AS (
           SELECT tok, row_number() OVER (ORDER BY c DESC, tok) - 1 AS tid
           FROM cnt)
         SELECT doc_id, count(*) AS n_tokens,
                string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pos) AS ids
         FROM tk JOIN vocab USING (tok) GROUP BY doc_id"""),
    // the oracle states overlap directly as an inequality join — tiny at
    // verify SF; the Spark side is the grid-bucketed rewrite
    QuerySpec("q145_interval_overlap", q145_interval_overlap,
      """WITH a AS (
           SELECT event_id AS a_id,
                  CAST(floor(epoch(ts)) AS BIGINT) AS s_a,
                  CAST(floor(epoch(ts)) AS BIGINT) + 120 + event_id % 300 AS e_a
           FROM events WHERE event_type = 'signup'),
         b AS (
           SELECT event_id AS b_id,
                  CAST(floor(epoch(ts)) AS BIGINT) AS s_b,
                  CAST(floor(epoch(ts)) AS BIGINT) + 120 + event_id % 300 AS e_b
           FROM events WHERE event_type = 'purchase')
         SELECT a_id, count(*) AS n_overlap, min(b_id) AS first_b
         FROM a JOIN b ON s_a <= e_b AND s_b <= e_a
         GROUP BY a_id"""),
    // same near-dup overlay (copies at doc_id + 2^40 with a df-2 pairing
    // token), same df cap, same pair accumulation, same squared
    // cross-multiplied threshold — integer-exact in both engines
    QuerySpec("q147_cosine_pairs", q147_cosine_pairs,
      """WITH aug AS (
           SELECT doc_id,
                  text || ' pt' || CAST(doc_id AS VARCHAR) AS text
           FROM documents
           UNION ALL
           SELECT doc_id + 1099511627776,
                  text || ' pt' || CAST(doc_id AS VARCHAR) || ' zz' AS text
           FROM documents WHERE doc_id % 20 = 0),
         tk AS (
           SELECT doc_id AS id, unnest(string_split(text, ' ')) AS tok
           FROM aug),
         tf AS (SELECT id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
         norms AS (SELECT id, CAST(sum(tf * tf) AS BIGINT) AS n2
                   FROM tf GROUP BY 1),
         rare AS (
           SELECT id, tok, tf FROM tf
           WHERE tok NOT IN (
             SELECT tok FROM tf GROUP BY tok HAVING count(*) > 20)),
         cand AS (
           SELECT DISTINCT a.id AS id_a, b.id AS id_b
           FROM rare a JOIN rare b ON a.tok = b.tok AND a.id < b.id),
         pairs AS (
           SELECT id_a, id_b, CAST(sum(fa.tf * fb.tf) AS BIGINT) AS dot
           FROM cand
           JOIN tf fa ON fa.id = cand.id_a
           JOIN tf fb ON fb.id = cand.id_b AND fb.tok = fa.tok
           GROUP BY 1, 2)
         SELECT id_a, id_b, dot, na.n2 AS n2_a, nb.n2 AS n2_b,
                (1000 * dot * dot) // (na.n2 * nb.n2) AS cos2_permille
         FROM pairs
         JOIN norms na ON na.id = id_a
         JOIN norms nb ON nb.id = id_b
         WHERE 1000 * dot * dot >= 900 * na.n2 * nb.n2"""),
    // final CDC state = per-user argmax by (ts, event_id) — equal to the
    // merged stream state because upsertLatest orders by value, not batch
    QuerySpec("q148_stream_cdc_merge", q148_stream_cdc_merge, s"""
      SELECT user_id, event_id, ts, ${centsSql("value")} AS value_c
      FROM (SELECT *, row_number() OVER (
              PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events)
      WHERE rn = 1""", streaming = true),
    // same √count quotas (floor(sqrt()) is bit-identical IEEE in both
    // engines below 2^52), same multiplicative id-mix rank
    QuerySpec("q149_temperature_sample", q149_temperature_sample,
      """WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY 1),
         q AS (SELECT lang, CAST(floor(sqrt(c)) AS BIGINT) AS isq FROM c),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                        (SELECT CAST(sum(isq) AS BIGINT) FROM q) AS sum_isq
                 FROM c),
         quota AS (
           SELECT lang, ((n // 10) * isq) // sum_isq AS quota
           FROM q CROSS JOIN tot),
         r AS (
           SELECT doc_id, lang,
                  row_number() OVER (PARTITION BY lang ORDER BY
                    ((doc_id % 1000000000) * 2654435761) % 1000000007,
                    doc_id) AS samp_rank
           FROM documents)
         SELECT doc_id, lang, CAST(samp_rank AS BIGINT) AS samp_rank
         FROM r JOIN quota USING (lang)
         WHERE samp_rank <= quota"""),
    // direct-comparison diff of the same deterministic mutation; agrees
    // with Spark's hash-compressed form except on ~2^-64 collisions
    QuerySpec("q150_table_diff", q150_table_diff, s"""
      WITH a AS (
        SELECT event_id, user_id, ${centsSql("value")} AS value_c FROM events),
      b AS (
        SELECT event_id, user_id,
               CASE WHEN event_id % 97 = 0 THEN value_c + 1 ELSE value_c END
                 AS value_c
        FROM a WHERE event_id % 101 <> 0
        UNION ALL
        SELECT event_id + 1000000000, user_id, value_c
        FROM a WHERE event_id % 103 = 0)
      SELECT coalesce(a.event_id, b.event_id) AS event_id,
             CASE WHEN b.event_id IS NULL THEN 'only_a'
                  WHEN a.event_id IS NULL THEN 'only_b'
                  ELSE 'changed' END AS diff_status
      FROM a FULL OUTER JOIN b ON a.event_id = b.event_id
      WHERE b.event_id IS NULL OR a.event_id IS NULL
         OR a.user_id <> b.user_id OR a.value_c <> b.value_c"""),
    // recursive-CTE replay of the level-synchronous BFS: UNION (not ALL)
    // dedups (id, hop) states so paths never explode; min(hop) per id
    QuerySpec("q151_bfs_hops", q151_bfs_hops,
      """WITH RECURSIVE
         raw AS (
           SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         ed AS (
           SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
           FROM raw WHERE src <> dst),
         adj AS (SELECT lo AS src, hi AS dst FROM ed
                 UNION ALL SELECT hi, lo FROM ed),
         walk(id, hops) AS (
           SELECT DISTINCT c_custkey * 2, 0 FROM customer WHERE c_custkey <= 5
           UNION
           SELECT adj.dst, w.hops + 1
           FROM walk w JOIN adj ON adj.src = w.id
           WHERE w.hops < 3)
         SELECT id, CAST(min(hops) AS BIGINT) AS hops
         FROM walk GROUP BY id"""),
    // collation-insensitive groups restated via lower(); same re-casing
    // identical rational-BM25 arithmetic in HUGEINT; same floor division
    QuerySpec("q174_bm25", q174_bm25, {
      val terms = Seq("dup", "vector", "merge")
      def h(e: String) = s"CAST(($e) AS HUGEINT)"
      val dfs = terms.zipWithIndex.map { case (w, i) =>
        s"CAST(sum(CASE WHEN ${occSql("text", w)} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i"
      }.mkString(", ")
      val sc = terms.zipWithIndex.map { case (w, i) =>
        val tf = occSql("text", w)
        s"""CAST((${h("1000000")} * ${h(s"2*n - 2*df$i + 1")} * ${h("44")}
             * ${h(tf)} * ${h("t")})
            // (${h(s"2*df$i + 1")}
             * (${h("20")} * ${h(tf)} * ${h("t")}
                + ${h("6")} * ${h("t")}
                + ${h("18")} * ${h("dl")} * ${h("n")})) AS BIGINT)"""
      }.mkString("(", " + ", ")")
      s"""WITH d AS (
            SELECT doc_id, text, $tokCountSql AS dl FROM documents),
          st AS (
            SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS t, $dfs
            FROM d)
          SELECT doc_id, $sc AS score
          FROM d, st
          ORDER BY score DESC, doc_id LIMIT 10"""
    }),
    // the identical recursion (DuckDB's // is Spark's DIV on BIGINTs)
    QuerySpec("q175_recursive_cte", q175_recursive_cte,
      """WITH RECURSIVE h(ck, depth) AS (
           SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT)
           UNION ALL
           SELECT c.c_custkey, h.depth + 1
           FROM customer c JOIN h ON c.c_custkey // 2 = h.ck)
         SELECT depth, count(*) AS n_nodes,
                min(ck) AS min_key, max(ck) AS max_key
         FROM h GROUP BY depth"""),
    // id-oriented a<b<c enumeration — a DIFFERENT triangle algorithm
    // than the engine's degree-oriented wedges; counts must agree
    QuerySpec("q176_triangles", q176_triangles,
      """WITH li AS (SELECT l_orderkey, l_suppkey FROM lineitem),
         pairs AS (
           SELECT DISTINCT a.l_orderkey AS ok,
                  a.l_suppkey AS lo, b.l_suppkey AS hi
           FROM li a JOIN li b
             ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
         ed AS (
           SELECT lo, hi FROM (
             SELECT lo, hi, count(*) AS n FROM pairs GROUP BY 1, 2)
           WHERE n >= 8),
         tri AS (
           SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
           FROM ed e1
           JOIN ed e2 ON e1.hi = e2.lo
           JOIN ed e3 ON e3.lo = e1.lo AND e3.hi = e2.hi),
         m AS (SELECT a AS id FROM tri
               UNION ALL SELECT b FROM tri
               UNION ALL SELECT c FROM tri)
         SELECT id AS s_suppkey, count(*) AS n_tri FROM m GROUP BY 1"""),
    // identical cross-multiplied PMI ratio in HUGEINT; same floor div
    QuerySpec("q177_pmi_bigrams", q177_pmi_bigrams,
      """WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         uc AS (
           SELECT w, count(*) AS c
           FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY 1),
         bc AS (
           SELECT string_split(b, ' ')[1] AS w1,
                  string_split(b, ' ')[2] AS w2, count(*) AS n_pair
           FROM (SELECT unnest(list_transform(range(1, len(tk)),
                          i -> tk[i] || ' ' || tk[i+1])) AS b
                 FROM toks)
           GROUP BY 1, 2),
         st AS (
           SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uc) AS t_tok,
                  (SELECT CAST(sum(n_pair) AS BIGINT) FROM bc) AS n_big)
         SELECT w1, w2, n_pair,
                CAST((CAST(1000000 AS HUGEINT) * CAST(n_pair AS HUGEINT)
                      * CAST(t_tok AS HUGEINT) * CAST(t_tok AS HUGEINT))
                     // (CAST(n_big AS HUGEINT) * CAST(u1.c AS HUGEINT)
                        * CAST(u2.c AS HUGEINT)) AS BIGINT) AS score_ppm
         FROM bc JOIN uc u1 ON bc.w1 = u1.w JOIN uc u2 ON bc.w2 = u2.w, st
         WHERE n_pair >= 5
         ORDER BY score_ppm DESC, w1, w2 LIMIT 20"""),
    // the SCAN formulation: per-doc list arithmetic, 1-based -> 0-based
    QuerySpec("q178_phrase_search", q178_phrase_search,
      """WITH d AS (
           SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         h AS (
           SELECT doc_id,
                  list_filter(range(1, len(tk)),
                              i -> tk[i] = 'table' AND tk[i+1] = 'hash') AS hits
           FROM d)
         SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_hits,
                CAST(hits[1] - 1 AS BIGINT) AS first_pos
         FROM h WHERE len(hits) > 0"""),
    // identity on the source slice: zone pruning must not change rows
    QuerySpec("q179_zonemap_prune", q179_zonemap_prune,
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
         FROM lineitem
         WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
                              AND TIMESTAMP '1997-06-30 23:59:59'"""),
    // tape algebra replayed from the construction rule: txn 2 appended
    // exactly the %3 == 1 slice, so the diff is that slice as only_b
    QuerySpec("q180_txn_diff", q180_txn_diff,
      """SELECT o_orderkey, 'only_b' AS diff_status
         FROM orders WHERE o_orderkey % 3 = 1"""),
    // same user-keyed pairing and integer floor credit split
    QuerySpec("q181_attribution", q181_attribution,
      """WITH p AS (
           SELECT event_id AS pe, user_id, ts AS pts
           FROM events WHERE event_type = 'purchase'),
         c AS (
           SELECT event_id AS ce, user_id, ts AS cts
           FROM events WHERE event_type = 'click'),
         pair AS (
           SELECT pe, ce
           FROM p JOIN c USING (user_id)
           WHERE cts < pts AND cts >= pts - INTERVAL 7 DAY),
         n AS (SELECT pe, count(*) AS n_touch FROM pair GROUP BY 1)
         SELECT ce AS click_id, count(*) AS n_purchases,
                CAST(sum(1000000 // n_touch) AS BIGINT) AS credit_ppm
         FROM pair JOIN n USING (pe)
         GROUP BY 1"""),
    // identical cross-multiplied chi-square cell terms in HUGEINT
    QuerySpec("q182_chi2_assoc", q182_chi2_assoc,
      """WITH cells AS (
           SELECT lang, source, count(*) AS n_obs
           FROM documents GROUP BY 1, 2),
         m AS (
           SELECT lang, source, n_obs,
                  CAST(sum(n_obs) OVER (PARTITION BY lang) AS BIGINT) AS r_tot,
                  CAST(sum(n_obs) OVER (PARTITION BY source) AS BIGINT) AS c_tot,
                  CAST(sum(n_obs) OVER () AS BIGINT) AS n_tot
           FROM cells)
         SELECT lang, source, n_obs,
                CAST((CAST(1000000 AS HUGEINT)
                      * (CAST(n_obs AS HUGEINT) * CAST(n_tot AS HUGEINT)
                         - CAST(r_tot AS HUGEINT) * CAST(c_tot AS HUGEINT))
                      * (CAST(n_obs AS HUGEINT) * CAST(n_tot AS HUGEINT)
                         - CAST(r_tot AS HUGEINT) * CAST(c_tot AS HUGEINT)))
                     // (CAST(r_tot AS HUGEINT) * CAST(c_tot AS HUGEINT)
                        * CAST(n_tot AS HUGEINT)) AS BIGINT) AS contrib_ppm
         FROM m"""),
    // the contract holds: the violations relation is EMPTY (q122 shape)
    QuerySpec("q183_minhash_error", q183_minhash_error,
      """SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b
         WHERE FALSE"""),
    // dominance stated directly: NOT EXISTS a strictly-better point
    QuerySpec("q184_skyline", q184_skyline, s"""
      WITH pts AS (
        SELECT ${centsSql("p_retailprice")} AS price_c,
               CAST(p_size AS BIGINT) AS size,
               count(*) AS n_parts,
               CAST(min(p_partkey) AS BIGINT) AS min_partkey
        FROM part GROUP BY 1, 2)
      SELECT price_c, size, n_parts, min_partkey
      FROM pts p
      WHERE NOT EXISTS (
        SELECT 1 FROM pts q
        WHERE q.price_c <= p.price_c AND q.size >= p.size
          AND (q.price_c < p.price_c OR q.size > p.size))"""),
    // same values-sized cumulative-count rank, same integer floor
    QuerySpec("q185_rank_normalize", q185_rank_normalize, s"""
      WITH v AS (
        SELECT o_orderkey, ${centsSql("o_totalprice")} AS price_c FROM orders),
      st AS (SELECT count(*) AS n FROM v),
      r AS (SELECT price_c, count(*) AS c FROM v GROUP BY 1),
      cum AS (
        SELECT price_c,
               CAST(coalesce(sum(c) OVER (ORDER BY price_c
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS smaller
        FROM r)
      SELECT o_orderkey, v.price_c,
             CAST(smaller * 1000000 // (n - 1) AS BIGINT) AS pr_ppm
      FROM v JOIN cum ON v.price_c = cum.price_c, st
      WHERE o_orderkey <= 1000"""),
    // identical sufficient statistics; negative slopes via sign/abs so
    // truncating div and flooring // agree on nonnegative operands
    QuerySpec("q186_regression_slope", q186_regression_slope, s"""
      WITH a AS (
        SELECT l_returnflag, count(*) AS n,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
               CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT) AS sy,
               CAST(sum(CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
               CAST(sum(CAST(l_quantity AS BIGINT)
                        * ${centsSql("l_extendedprice")}) AS BIGINT) AS sxy
        FROM lineitem GROUP BY 1),
      d AS (
        SELECT l_returnflag, n,
               CAST(n AS HUGEINT) * CAST(sxy AS HUGEINT)
                 - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS num,
               CAST(n AS HUGEINT) * CAST(sxx AS HUGEINT)
                 - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS den
        FROM a)
      SELECT l_returnflag, n,
             CAST(CASE WHEN num < 0
                       THEN -((CAST(1000000 AS HUGEINT) * (-num)) // den)
                       ELSE (CAST(1000000 AS HUGEINT) * num) // den
                  END AS BIGINT) AS slope_ppm
      FROM d"""),
    // identical basket/pair supports and HUGEINT ppm scores
    QuerySpec("q187_assoc_rules", q187_assoc_rules,
      """WITH items AS (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         supp AS (SELECT pk, count(*) AS supp FROM items GROUP BY 1),
         nb AS (SELECT count(*) AS n_baskets FROM orders),
         pr AS (
           SELECT a.pk AS a, b.pk AS b, count(*) AS supp_pair
           FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
           GROUP BY 1, 2 HAVING count(*) >= 2),
         dir AS (
           SELECT a AS ante, b AS cons, supp_pair FROM pr
           UNION ALL
           SELECT b, a, supp_pair FROM pr)
         SELECT ante, cons, supp_pair,
                CAST((CAST(supp_pair AS HUGEINT) * 1000000)
                     // CAST(sa.supp AS HUGEINT) AS BIGINT) AS conf_ppm,
                CAST((CAST(supp_pair AS HUGEINT) * CAST(n_baskets AS HUGEINT)
                      * 1000000)
                     // (CAST(sa.supp AS HUGEINT) * CAST(sb.supp AS HUGEINT))
                  AS BIGINT) AS lift_ppm
         FROM dir JOIN supp sa ON dir.ante = sa.pk
                  JOIN supp sb ON dir.cons = sb.pk, nb
         ORDER BY lift_ppm DESC, ante, cons LIMIT 25"""),
    // the cascade restated as correlated deletions per table
    QuerySpec("q188_gdpr_cascade", q188_gdpr_cascade,
      """WITH del_c AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
         del_o AS (SELECT o_orderkey FROM orders
                   WHERE o_custkey IN (SELECT c_custkey FROM del_c)),
         del_l AS (SELECT 1 AS x FROM lineitem
                   WHERE l_orderkey IN (SELECT o_orderkey FROM del_o))
         SELECT 'customer' AS table_name,
                (SELECT count(*) FROM del_c) AS n_deleted,
                (SELECT count(*) FROM customer)
                  - (SELECT count(*) FROM del_c) AS n_kept
         UNION ALL
         SELECT 'orders', (SELECT count(*) FROM del_o),
                (SELECT count(*) FROM orders)
                  - (SELECT count(*) FROM del_o)
         UNION ALL
         SELECT 'lineitem', (SELECT count(*) FROM del_l),
                (SELECT count(*) FROM lineitem)
                  - (SELECT count(*) FROM del_l)"""),
    // the final ledger per user IS the batch aggregate
    QuerySpec("q189_stream_running_totals", q189_stream_running_totals, s"""
      SELECT user_id, count(*) AS n_events,
             CAST(sum(${centsSql("value")}) AS BIGINT) AS value_c
      FROM events GROUP BY 1""", streaming = true),
    // single-trigger tape: within-watermark dedup = distinct keys
    QuerySpec("q190_stream_dedup_within", q190_stream_dedup_within,
      "SELECT DISTINCT user_id, event_type FROM events", streaming = true),
    // live users' ledgers over their ENTIRE history (seed + stream)
    QuerySpec("q193_stream_warm_start", q193_stream_warm_start, s"""
      SELECT user_id, count(*) AS n_events,
             CAST(sum(${centsSql("value")}) AS BIGINT) AS value_c
      FROM events
      WHERE user_id IN (SELECT DISTINCT user_id FROM events
                        WHERE event_id % 2 = 1)
      GROUP BY 1""", streaming = true),
    // the sequential merge restated as lag + correlated EXISTS
    QuerySpec("q194_cogroup_convert", q194_cogroup_convert,
      """WITH p AS (
           SELECT user_id, event_id, ts,
                  lag(ts) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS prev_ts
           FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
         SELECT p.user_id, count(*) AS n_purchases,
                CAST(sum(CASE WHEN EXISTS (
                       SELECT 1 FROM c
                       WHERE c.user_id = p.user_id
                         AND c.ts < p.ts
                         AND (p.prev_ts IS NULL OR c.ts > p.prev_ts))
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
         FROM p GROUP BY 1"""),
    // the repair converges: the post-repair diff is EMPTY
    QuerySpec("q195_repair_roundtrip", q195_repair_roundtrip,
      """SELECT CAST(NULL AS BIGINT) AS event_id,
                CAST(NULL AS VARCHAR) AS diff_status
         WHERE FALSE"""),
    // both Bloom guarantees hold: the violations relation is EMPTY
    QuerySpec("q196_bloom_fpr", q196_bloom_fpr,
      """SELECT CAST(NULL AS BIGINT) AS n_false_neg,
                CAST(NULL AS BIGINT) AS n_false_pos,
                CAST(NULL AS BIGINT) AS n_non_member
         WHERE FALSE"""),
    // the oracle recomputes the view FROM SCRATCH; the engine maintains
    // it with delta joins - the algebra must agree exactly
    QuerySpec("q197_join_ivm", q197_join_ivm,
      """SELECT o_orderpriority, count(*) AS n,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY 1"""),
    // SQL:2011 IGNORE NULLS frame semantics, same (ts, event_id) ties
    QuerySpec("q198_forward_fill", q198_forward_fill, s"""
      WITH r AS (
        SELECT event_id, user_id, ts,
               CASE WHEN event_id % 5 = 0 THEN NULL
                    ELSE ${centsSql("value")} END AS reading
        FROM events)
      SELECT event_id, user_id,
             CAST(CASE WHEN reading IS NULL THEN 1 ELSE 0 END AS BIGINT)
               AS was_null,
             last_value(reading IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      FROM r"""),
    // identical microsecond hold-time weighting in HUGEINT
    QuerySpec("q199_time_weighted_avg", q199_time_weighted_avg, s"""
      WITH r AS (
        SELECT user_id, ${centsSql("value")} AS value_c,
               epoch_us(lead(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id))
                 - epoch_us(ts) AS dt
        FROM events)
      SELECT user_id,
             CAST(sum(CAST(value_c AS HUGEINT) * CAST(dt AS HUGEINT))
                  // CAST(sum(dt) AS HUGEINT) AS BIGINT) AS twa_c
      FROM r WHERE dt IS NOT NULL
      GROUP BY 1 HAVING sum(dt) > 0"""),
    // the 4-way expansion stated explicitly: every event joins the 4
    // hop-aligned starts covering it (15-min grid is epoch-aligned in
    // both engines)
    QuerySpec("q201_sliding_window", q201_sliding_window,
      """SELECT time_bucket(INTERVAL 15 MINUTE, ts) - to_minutes(15 * k)
                AS w_start,
              event_type, count(*) AS n
         FROM events, (SELECT unnest(range(0, 4)) AS k)
         GROUP BY 1, 2"""),
    // same first-purchase-day arrivals + days-sized prefix sum
    QuerySpec("q202_cumulative_ndv", q202_cumulative_ndv,
      """WITH fd AS (
           SELECT user_id, min(date_trunc('day', ts)) AS first_day
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         ar AS (SELECT first_day AS day, count(*) AS n_new FROM fd GROUP BY 1)
         SELECT day, n_new,
                CAST(sum(n_new) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS n_cum_users
         FROM ar"""),
    // purchase-day cohorts; both engines truncate weeks to Monday
    QuerySpec("q203_cohort_retention", q203_cohort_retention,
      """WITH ev AS (
           SELECT DISTINCT user_id, date_trunc('week', ts) AS week
           FROM events),
         c AS (SELECT user_id, min(date_trunc('day', ts)) AS cohort_day
               FROM events WHERE event_type = 'purchase' GROUP BY 1)
         SELECT cohort_day, week,
                CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_active
         FROM ev JOIN c USING (user_id)
         GROUP BY 1, 2"""),
    // identical cross-multiplied CDF gap; ties break to smallest value
    QuerySpec("q204_ks_drift", q204_ks_drift, s"""
      WITH v AS (
        SELECT ${centsSql("o_totalprice")} AS v,
               CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END AS is_a
        FROM orders),
      per AS (
        SELECT v, CAST(sum(is_a) AS BIGINT) AS ca,
               CAST(sum(1 - is_a) AS BIGINT) AS cb
        FROM v GROUP BY 1),
      tot AS (
        SELECT CAST(sum(ca) AS BIGINT) AS na,
               CAST(sum(cb) AS BIGINT) AS nb FROM per),
      cum AS (
        SELECT v,
               CAST(sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) AS BIGINT) AS cuma,
               CAST(sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) AS BIGINT) AS cumb
        FROM per)
      SELECT CAST((abs(CAST(cuma AS HUGEINT) * CAST(nb AS HUGEINT)
                       - CAST(cumb AS HUGEINT) * CAST(na AS HUGEINT))
                   * 1000000)
                  // (CAST(na AS HUGEINT) * CAST(nb AS HUGEINT))
               AS BIGINT) AS d_ppm,
             v AS at_value
      FROM cum, tot
      ORDER BY abs(CAST(cuma AS HUGEINT) * CAST(nb AS HUGEINT)
                   - CAST(cumb AS HUGEINT) * CAST(na AS HUGEINT)) DESC, v
      LIMIT 1"""),
    // same bit packing and popcount
    QuerySpec("q205_bitmask_profile", q205_bitmask_profile,
      """WITH m AS (
           SELECT o_custkey,
                  CAST(bit_or(CAST(1 AS BIGINT)
                    << (CAST(substring(o_orderpriority, 1, 1) AS INTEGER) - 1))
                    AS BIGINT) AS mask
           FROM orders GROUP BY 1)
         SELECT mask, CAST(bit_count(mask) AS BIGINT) AS n_priorities,
                count(*) AS n_customers
         FROM m GROUP BY 1"""),
    // brute force over the same population: any pair the prefix filter
    // misses (wrong bound) or fabricates (wrong verify) breaks the hash
    QuerySpec("q206_set_similarity_join", q206_set_similarity_join,
      """WITH sets AS (
           SELECT doc_id, list_distinct(string_split(text, ' ')) AS s
           FROM documents WHERE doc_id < 200)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS i,
                CAST(len(a.s) + len(b.s)
                     - len(list_intersect(a.s, b.s)) AS BIGINT) AS u
         FROM sets a JOIN sets b ON a.doc_id < b.doc_id
         WHERE len(list_intersect(a.s, b.s)) * 3
                 >= (len(a.s) + len(b.s)) * 1"""),
    // same change-point filter and validity lead, same (ts, id) ties
    QuerySpec("q207_scd2_intervals", q207_scd2_intervals, s"""
      WITH r AS (
        SELECT user_id, event_id, ts, ${centsSql("value")} AS value_c,
               lag(${centsSql("value")}) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS prev_c
        FROM events),
      ch AS (
        SELECT user_id, event_id, ts, value_c FROM r
        WHERE prev_c IS NULL OR prev_c <> value_c)
      SELECT user_id, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS valid_to,
             value_c
      FROM ch"""),
    // same per-value weight aggregation and half-total selection rule
    QuerySpec("q208_weighted_median", q208_weighted_median, s"""
      WITH per AS (
        SELECT l_returnflag, ${centsSql("l_extendedprice")} AS v,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        FROM lineitem GROUP BY 1, 2),
      c AS (
        SELECT l_returnflag, v,
               CAST(sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cumw,
               CAST(sum(w) OVER (PARTITION BY l_returnflag)
                 AS BIGINT) AS totw
        FROM per)
      SELECT l_returnflag, CAST(min(v) AS BIGINT) AS weighted_median_c
      FROM c WHERE cumw * 2 >= totw GROUP BY 1"""),
    // the recovered gaps are exactly the dropped multiples of 7
    QuerySpec("q209_id_gaps", q209_id_gaps,
      """WITH e AS (SELECT event_id FROM events WHERE event_id % 7 <> 0),
         x AS (SELECT event_id,
                      lead(event_id) OVER (ORDER BY event_id) AS nxt
               FROM e)
         SELECT event_id + 1 AS gap_start, nxt - 1 AS gap_end
         FROM x WHERE nxt > event_id + 1"""),
    // the classic day - row_number() island key, identical both sides
    QuerySpec("q210_activity_streaks", q210_activity_streaks,
      """WITH d AS (
           SELECT DISTINCT user_id,
                  CAST(date_trunc('day', ts) AS DATE) AS day
           FROM events),
         i AS (
           SELECT user_id, day,
                  day - CAST(row_number() OVER (PARTITION BY user_id
                    ORDER BY day) AS INTEGER) AS island
           FROM d)
         SELECT user_id, CAST(min(day) AS TIMESTAMP) AS streak_start,
                count(*) AS streak_days
         FROM i GROUP BY user_id, island"""),
    // DuckDB runs the same SQL:2003 bag semantics natively
    QuerySpec("q211_bag_set_ops", q211_bag_set_ops,
      """WITH a AS (SELECT o_orderpriority FROM orders WHERE o_custkey % 3 = 0),
         b AS (SELECT o_orderpriority FROM orders WHERE o_custkey % 3 = 1),
         ia AS (SELECT o_orderpriority, count(*) AS n_i
                FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
                GROUP BY 1),
         ea AS (SELECT o_orderpriority, count(*) AS n_e
                FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
                GROUP BY 1)
         SELECT coalesce(ia.o_orderpriority, ea.o_orderpriority)
                  AS o_orderpriority,
                CAST(coalesce(n_i, 0) AS BIGINT) AS n_intersect_all,
                CAST(coalesce(n_e, 0) AS BIGINT) AS n_except_all
         FROM ia FULL OUTER JOIN ea
           ON ia.o_orderpriority = ea.o_orderpriority"""),
    // same frequency ranking (ties by token) and exact ppm curve
    QuerySpec("q212_vocab_coverage", q212_vocab_coverage,
      """WITH c AS (
           SELECT w, count(*) AS c
           FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           GROUP BY 1),
         t AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM c),
         r AS (
           SELECT w, c,
                  CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT)
                    AS rank,
                  CAST(sum(c) OVER (ORDER BY c DESC, w ROWS BETWEEN
                    UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           FROM c)
         SELECT rank, w, CAST(c AS BIGINT) AS c,
                CAST((CAST(cum AS HUGEINT) * 1000000)
                     // CAST(t AS HUGEINT) AS BIGINT) AS cum_ppm
         FROM r, t WHERE rank <= 30"""),
    // the same union with the missing columns stated as NULLs
    QuerySpec("q213_union_drift", q213_union_drift, s"""
      SELECT o_orderkey, o_orderstatus, CAST(NULL AS BIGINT) AS price_c
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, CAST(NULL AS VARCHAR), ${centsSql("o_totalprice")}
      FROM orders WHERE o_orderkey % 2 = 1"""),
    // the oracle pays the O(n^2) per-user pair count the distributed
    // merge-sort form avoids; same Lehmer arrival permutation
    QuerySpec("q214_disorder_metric", q214_disorder_metric,
      """WITH e AS (
           SELECT user_id, event_id, ts,
                  (event_id * 48271) % 2147483647 AS arrival
           FROM events)
         SELECT a.user_id, count(DISTINCT a.event_id) AS n_events,
                CAST(sum(CASE WHEN b.event_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_inversions
         FROM e a LEFT JOIN e b
           ON a.user_id = b.user_id
          AND a.arrival < b.arrival
          AND (a.ts > b.ts OR (a.ts = b.ts AND a.event_id > b.event_id))
         GROUP BY 1"""),
    // open/close replayed as arg-ordered first/last window picks
    QuerySpec("q215_ohlc_candles", q215_ohlc_candles, s"""
      WITH r AS (
        SELECT date_trunc('day', ts) AS day, event_type, ts, event_id,
               ${centsSql("value")} AS v
        FROM events),
      w AS (
        SELECT day, event_type, v,
               first_value(v) OVER (PARTITION BY day, event_type
                 ORDER BY ts, event_id) AS open_c,
               first_value(v) OVER (PARTITION BY day, event_type
                 ORDER BY ts DESC, event_id DESC) AS close_c
        FROM r)
      SELECT day, event_type, CAST(min(open_c) AS BIGINT) AS open_c,
             CAST(max(v) AS BIGINT) AS high_c,
             CAST(min(v) AS BIGINT) AS low_c,
             CAST(min(close_c) AS BIGINT) AS close_c,
             count(*) AS n
      FROM w GROUP BY 1, 2"""),
    // same signed-ppm rule with the sign factored out of the floor
    QuerySpec("q216_wow_growth", q216_wow_growth,
      """WITH wk AS (
           SELECT event_type, date_trunc('week', ts) AS week,
                  count(*) AS n
           FROM events GROUP BY 1, 2),
         g AS (
           SELECT event_type, week, n,
                  lag(n) OVER (PARTITION BY event_type ORDER BY week)
                    AS prev_n
           FROM wk)
         SELECT event_type, week, n,
                CAST(CASE WHEN prev_n IS NULL THEN NULL
                     WHEN n >= prev_n
                       THEN ((n - prev_n) * 1000000) // prev_n
                     ELSE -(((prev_n - n) * 1000000) // prev_n)
                  END AS BIGINT) AS growth_ppm
         FROM g"""),
    // same 7-day coverage expansion + distinct count per report day
    QuerySpec("q217_rolling_wau", q217_rolling_wau,
      """WITH a AS (
           SELECT DISTINCT user_id,
                  CAST(date_trunc('day', ts) AS DATE) AS day
           FROM events),
         x AS (
           SELECT user_id, day + CAST(k AS INTEGER) AS report_day
           FROM a, (SELECT unnest(range(0, 7)) AS k))
         SELECT CAST(report_day AS TIMESTAMP) AS report_day,
                CAST(count(DISTINCT user_id) AS BIGINT) AS wau
         FROM x GROUP BY 1"""),
    // the same null-on-hazard semantics stated with CASE guards
    QuerySpec("q218_try_arithmetic", q218_try_arithmetic,
      """SELECT o_orderkey,
                CASE WHEN o_orderkey % 10 = 0 THEN NULL
                     ELSE CAST(o_custkey AS DOUBLE) / (o_orderkey % 10)
                END AS safe_div,
                CASE WHEN o_orderkey % 3 = 2
                     THEN CAST(9223372036854775807 AS BIGINT)
                     ELSE NULL END AS safe_add,
                CAST(NULL AS BIGINT) AS safe_cast,
                o_orderkey AS good_cast
         FROM orders"""),
    // same sufficient statistics; r^2 needs no sqrt so it stays exact
    QuerySpec("q219_r_squared", q219_r_squared, s"""
      WITH a AS (
        SELECT l_returnflag, count(*) AS n,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
               CAST(sum(CAST(round(l_discount * 10000) AS BIGINT))
                 AS BIGINT) AS sy,
               CAST(sum(CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
               sum(CAST(round(l_discount * 10000) AS HUGEINT)
                   * CAST(round(l_discount * 10000) AS HUGEINT)) AS syy,
               CAST(sum(CAST(l_quantity AS BIGINT)
                        * CAST(round(l_discount * 10000) AS BIGINT))
                 AS BIGINT) AS sxy
        FROM lineitem GROUP BY 1),
      d AS (
        SELECT l_returnflag, n,
               CAST(n AS HUGEINT) * CAST(sxy AS HUGEINT)
                 - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS num,
               CAST(n AS HUGEINT) * CAST(sxx AS HUGEINT)
                 - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS dx,
               CAST(n AS HUGEINT) * syy
                 - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) AS dy
        FROM a)
      SELECT l_returnflag, n,
             CAST(CASE WHEN dx = 0 OR dy = 0 THEN NULL
                  ELSE (CAST(1000000 AS HUGEINT) * num * num) // (dx * dy)
               END AS BIGINT) AS r2_ppm
      FROM d"""),
    // the whole stream->landing->cluster->skip-read chain must be the
    // identity on the source slice
    QuerySpec("q220_stream_lakehouse_sink", q220_stream_lakehouse_sink, s"""
      SELECT event_id, user_id, ${centsSql("value")} AS value_c
      FROM events
      WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                   AND TIMESTAMP '2024-01-12 23:59:59'""", streaming = true),
    // the single-reducer window the engine's two-phase form avoids
    QuerySpec("q221_global_row_number", q221_global_row_number, s"""
      SELECT o_orderkey, ${centsSql("o_totalprice")} AS price_c,
             CAST(row_number() OVER (ORDER BY ${centsSql("o_totalprice")},
               o_orderkey) AS BIGINT) AS rn
      FROM orders"""),
    // most recent click per purchase, discarded when staler than 1h
    QuerySpec("q222_asof_tolerance", q222_asof_tolerance,
      """WITH p AS (
           SELECT event_id AS purchase_id, user_id, ts AS pts
           FROM events WHERE event_type = 'purchase'),
         c AS (
           SELECT user_id, ts AS cts, event_id AS click_id
           FROM events WHERE event_type = 'click'),
         m AS (
           SELECT purchase_id, p.user_id, pts,
                  first_value(click_id) OVER (PARTITION BY purchase_id
                    ORDER BY cts DESC, click_id DESC) AS click_id,
                  first_value(cts) OVER (PARTITION BY purchase_id
                    ORDER BY cts DESC, click_id DESC) AS cts
           FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.cts <= p.pts)
         SELECT DISTINCT purchase_id, user_id, pts,
                CASE WHEN cts >= pts - INTERVAL 1 HOUR
                     THEN click_id END AS click_id,
                CASE WHEN cts >= pts - INTERVAL 1 HOUR
                     THEN cts END AS click_ts
         FROM m"""),
    // SQL:2008 WITH TIES semantics via rank()
    QuerySpec("q223_top_k_ties", q223_top_k_ties, s"""
      WITH r AS (
        SELECT o_orderpriority, ${centsSql("o_totalprice")} AS price_c,
               CAST(rank() OVER (PARTITION BY o_orderpriority
                 ORDER BY ${centsSql("o_totalprice")} DESC) AS BIGINT) AS rk
        FROM orders)
      SELECT o_orderpriority, rk, price_c, count(*) AS n_tied
      FROM r WHERE rk <= 2
      GROUP BY 1, 2, 3"""),
    // identical duplicate-aware rank-sum identity in HUGEINT
    QuerySpec("q224_gini", q224_gini, s"""
      WITH per AS (
        SELECT c_nationkey, ${centsSql("o_totalprice")} AS v,
               count(*) AS c
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2),
      cu AS (
        SELECT c_nationkey, v, c,
               CAST(coalesce(sum(c) OVER (PARTITION BY c_nationkey
                 ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                 AND 1 PRECEDING), 0) AS BIGINT) AS cum
        FROM per),
      agg AS (
        SELECT c_nationkey, CAST(sum(c) AS BIGINT) AS n,
               sum(CAST(v AS HUGEINT) * CAST(c AS HUGEINT)) AS sx,
               sum(CAST(v AS HUGEINT) * CAST(c AS HUGEINT)
                   * CAST(2 * cum + c + 1 AS HUGEINT)) AS ranksum
        FROM cu GROUP BY 1)
      SELECT c_nationkey, n,
             CAST(((ranksum - (CAST(n AS HUGEINT) + 1) * sx) * 1000000)
                  // (CAST(n AS HUGEINT) * sx) AS BIGINT) AS gini_ppm
      FROM agg"""),
    // same two-level fold; the ratio floors once at the end
    QuerySpec("q225_hhi", q225_hhi, s"""
      WITH rev AS (
        SELECT s_nationkey, s_suppkey,
               CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT) AS rev
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1, 2)
      SELECT s_nationkey, count(*) AS n_suppliers,
             CAST((CAST(1000000 AS HUGEINT)
                   * sum(CAST(rev AS HUGEINT) * CAST(rev AS HUGEINT)))
                  // (CAST(sum(rev) AS HUGEINT)
                     * CAST(sum(rev) AS HUGEINT)) AS BIGINT) AS hhi_ppm
      FROM rev GROUP BY 1"""),
    // header-vs-lines discrepancy, top-20 by |diff| (ties by key)
    QuerySpec("q226_order_reconciliation", q226_order_reconciliation, s"""
      WITH l AS (
        SELECT l_orderkey,
               CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT) AS lines_c
        FROM lineitem GROUP BY 1)
      SELECT o_orderkey, ${centsSql("o_totalprice")} AS header_c,
             coalesce(lines_c, 0) AS lines_c,
             abs(${centsSql("o_totalprice")} - coalesce(lines_c, 0))
               AS abs_diff_c
      FROM orders LEFT JOIN l ON o_orderkey = l_orderkey
      ORDER BY abs_diff_c DESC, o_orderkey LIMIT 20"""),
    // same confusion-matrix reduction; sign factored out of the floor
    QuerySpec("q227_cohens_kappa", q227_cohens_kappa, {
      val scoreCols = TextAnalysis.langMarkers.map { case (l, _) =>
        s"${langScoreSql(l)} AS s_$l"
      }.mkString(", ")
      s"""WITH lp AS (
            SELECT lang, $langCaseSql AS pred FROM (
              SELECT lang, $scoreCols FROM documents)),
          conf AS (SELECT lang, pred, count(*) AS c FROM lp GROUP BY 1, 2),
          nd AS (
            SELECT CAST(sum(c) AS BIGINT) AS n,
                   CAST(coalesce(sum(CASE WHEN lang = pred THEN c END), 0)
                     AS BIGINT) AS d
            FROM conf),
          r AS (SELECT lang, CAST(sum(c) AS BIGINT) AS rc FROM conf GROUP BY 1),
          co AS (SELECT pred, CAST(sum(c) AS BIGINT) AS cc FROM conf GROUP BY 1),
          p AS (
            SELECT coalesce(sum(CAST(rc AS HUGEINT) * CAST(cc AS HUGEINT)),
                   CAST(0 AS HUGEINT)) AS p
            FROM r JOIN co ON r.lang = co.pred)
          SELECT n AS n_docs, d AS n_agree,
                 CAST(CASE WHEN CAST(n AS HUGEINT) * CAST(d AS HUGEINT) < p
                      THEN -(((p - CAST(n AS HUGEINT) * CAST(d AS HUGEINT))
                              * 1000000)
                             // (CAST(n AS HUGEINT) * CAST(n AS HUGEINT) - p))
                      ELSE ((CAST(n AS HUGEINT) * CAST(d AS HUGEINT) - p)
                            * 1000000)
                           // (CAST(n AS HUGEINT) * CAST(n AS HUGEINT) - p)
                   END AS BIGINT) AS kappa_ppm
          FROM nd, p"""
    }),
    // same per-class tp/pred/true fold with NULL-guarded ratios
    QuerySpec("q228_class_prf", q228_class_prf, {
      val scoreCols = TextAnalysis.langMarkers.map { case (l, _) =>
        s"${langScoreSql(l)} AS s_$l"
      }.mkString(", ")
      s"""WITH lp AS (
            SELECT lang, $langCaseSql AS pred FROM (
              SELECT lang, $scoreCols FROM documents)),
          conf AS (SELECT lang, pred, count(*) AS c FROM lp GROUP BY 1, 2),
          tp AS (SELECT lang AS cls, CAST(c AS BIGINT) AS tp FROM conf
                 WHERE lang = pred),
          a AS (SELECT lang AS cls, CAST(sum(c) AS BIGINT) AS n_true
                FROM conf GROUP BY 1),
          pr AS (SELECT pred AS cls, CAST(sum(c) AS BIGINT) AS n_pred
                 FROM conf GROUP BY 1)
          SELECT coalesce(a.cls, pr.cls) AS cls,
                 coalesce(tp, 0) AS tp,
                 coalesce(n_pred, 0) AS n_pred,
                 coalesce(n_true, 0) AS n_true,
                 CAST(CASE WHEN coalesce(n_pred, 0) > 0
                      THEN (coalesce(tp, 0) * 1000000) // n_pred
                   END AS BIGINT) AS precision_ppm,
                 CAST(CASE WHEN coalesce(n_true, 0) > 0
                      THEN (coalesce(tp, 0) * 1000000) // n_true
                   END AS BIGINT) AS recall_ppm
          FROM a FULL OUTER JOIN pr ON a.cls = pr.cls
          LEFT JOIN tp ON coalesce(a.cls, pr.cls) = tp.cls"""
    }),
    // same generated spine; isodow Monday=1 in both engines
    QuerySpec("q229_calendar_spine", q229_calendar_spine,
      """WITH d AS (
           SELECT CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
         b AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
         spine AS (
           SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
           FROM b),
         daily AS (SELECT day, count(*) AS n_events FROM d GROUP BY 1)
         SELECT CAST(spine.day AS TIMESTAMP) AS day,
                CAST(date_part('isodow', spine.day) AS BIGINT) AS isodow,
                CAST(date_trunc('week', spine.day) AS TIMESTAMP)
                  AS week_start,
                coalesce(n_events, 0) AS n_events
         FROM spine LEFT JOIN daily ON spine.day = daily.day"""),
    // identical signed deltas and stacked running windows
    QuerySpec("q230_max_drawdown", q230_max_drawdown, s"""
      WITH r AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'purchase' THEN -1 ELSE 1 END
                 * ${centsSql("value")} AS delta_c
        FROM events),
      c AS (
        SELECT user_id, ts, event_id,
               sum(delta_c) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bal
        FROM r),
      p AS (
        SELECT user_id, bal,
               max(bal) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        FROM c)
      SELECT user_id,
             CAST(max(peak - bal) AS BIGINT) AS max_drawdown_c,
             CAST(max(peak) AS BIGINT) AS peak_c
      FROM p GROUP BY 1"""),
    // the prefix filter has EXACT recall, so the production path's output
    // equals the full containment relation — the oracle states it as the
    // posting-list join (only pairs with >= 1 shared shingle can pass the
    // gate, since i >= ceil(0.6*na) >= 1), with the same cross-multiplied
    // integer threshold
    QuerySpec("q231_containment_join", q231_containment_join,
      """WITH sh AS (
           SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
             THEN list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [text] END) AS s
           FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
                 FROM documents)),
         tk AS (SELECT doc_id, unnest(s) AS tok FROM sh),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  CAST(count(*) AS BIGINT) AS i
           FROM tk a JOIN tk b ON a.tok = b.tok AND a.doc_id <> b.doc_id
           GROUP BY 1, 2),
         sz AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS na FROM sh)
         SELECT inter.id_a, inter.id_b, inter.i, sz.na
         FROM inter JOIN sz ON sz.doc_id = inter.id_a
         WHERE inter.i * 5 >= sz.na * 3"""),
    // the maxDf cap's recall contract holds: capped pairs carry exact
    // measures and every lost pair is explained by the cap — the
    // violations relation is EMPTY
    QuerySpec("q232_containment_cap", q232_containment_cap,
      """SELECT CAST(NULL AS BIGINT) AS id_a,
                CAST(NULL AS BIGINT) AS id_b,
                CAST(NULL AS VARCHAR) AS violation
         WHERE FALSE"""),
    // the fan-out probe's analytic candidate count, df stats, and maxDf
    // recommendation, re-derived from scratch: same shingles, same
    // rarest-first (df, tok) rank order, same prefix arithmetic, same
    // ladder (interpolated from the ONE Scala constant both engines use)
    QuerySpec("q233_fanout_probe", q233_fanout_probe, {
      val ladderSql = graft.operators.Dedup.MaxDfLadder.mkString(", ")
      val perDoc = graft.operators.Dedup.DefaultCandidatesPerDoc
      // text IS NOT NULL up front: Spark's explode(shingles(NULL))
      // emits no rows, while DuckDB's ELSE [text] would turn a null
      // text into a NULL token that shifts n_docs/vocab — benign in the
      // pair-output oracles (a NULL token never equi-joins) but a
      // count divergence in this aggregate one
      s"""WITH sh AS (
           SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
             THEN list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [text] END) AS s
           FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
                 FROM documents WHERE text IS NOT NULL)),
         tk AS (SELECT doc_id, unnest(s) AS tok FROM sh),
         dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
                   FROM tk GROUP BY tok),
         ranked AS (SELECT tok, df,
                      CAST(row_number() OVER (ORDER BY df, tok) AS BIGINT) AS rnk
                    FROM dfreq),
         rt AS (SELECT tk.doc_id, ranked.rnk, ranked.df
                FROM tk JOIN ranked ON tk.tok = ranked.tok),
         szs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
                 FROM rt GROUP BY doc_id),
         pos AS (SELECT rt.doc_id, rt.rnk,
                   row_number() OVER (PARTITION BY rt.doc_id ORDER BY rt.rnk) AS pos,
                   szs.n
                 FROM rt JOIN szs ON rt.doc_id = szs.doc_id),
         pref AS (SELECT doc_id, rnk FROM pos
                  WHERE pos <= n - ((n * 3 + 5 - 1) // 5) + 1),
         pdf AS (SELECT rnk, CAST(count(*) AS BIGINT) AS pdf
                 FROM pref GROUP BY rnk),
         contrib AS (SELECT ranked.df, COALESCE(pdf.pdf, 0) * ranked.df AS c
                     FROM ranked LEFT JOIN pdf ON ranked.rnk = pdf.rnk),
         tot AS (SELECT
                   CAST((SELECT count(DISTINCT doc_id) FROM tk) AS BIGINT) AS n_docs,
                   CAST(count(*) AS BIGINT) AS vocab,
                   CAST(COALESCE(max(df), 0) AS BIGINT) AS max_shingle_df,
                   CAST(COALESCE(sum(c), 0) AS BIGINT) AS uncapped_candidates
                 FROM contrib),
         ladder AS (SELECT CAST(unnest([$ladderSql]) AS BIGINT) AS cap),
         cum AS (SELECT l.cap,
                   (SELECT CAST(COALESCE(sum(c), 0) AS BIGINT)
                    FROM contrib WHERE df <= l.cap) AS cands
                 FROM ladder l)
         SELECT tot.n_docs, tot.vocab, tot.max_shingle_df,
           tot.uncapped_candidates,
           CASE WHEN tot.uncapped_candidates <= $perDoc * greatest(tot.n_docs, 1)
                THEN CAST(NULL AS BIGINT)
                ELSE COALESCE((SELECT max(cap) FROM cum
                               WHERE cands <= $perDoc * greatest(tot.n_docs, 1)), 1)
           END AS rec_default,
           CASE WHEN tot.uncapped_candidates <= greatest(tot.n_docs, 1)
                THEN CAST(NULL AS BIGINT)
                ELSE COALESCE((SELECT max(cap) FROM cum
                               WHERE cands <= greatest(tot.n_docs, 1)), 1)
           END AS rec_tight
         FROM tot""" }),
    // every column recomputed independently; the one-pass form must match
    QuerySpec("q200_profile_table", q200_profile_table, {
      val liCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
        "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
      liCols.map { c =>
        s"""SELECT '$c' AS column_name,
               CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_null,
               CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct
            FROM lineitem"""
      }.mkString("\nUNION ALL\n")
    }),
    // the same metrics aggregated from scratch
    QuerySpec("q191_observe_metrics", q191_observe_metrics, s"""
      WITH a AS (
        SELECT count(*) AS n_rows,
               CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_qty,
               CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT) AS sum_price_c,
               CAST(max(l_orderkey) AS BIGINT) AS max_orderkey
        FROM lineitem)
      SELECT 'n_rows' AS metric, n_rows AS value FROM a
      UNION ALL SELECT 'n_bad_qty', n_bad_qty FROM a
      UNION ALL SELECT 'sum_price_c', sum_price_c FROM a
      UNION ALL SELECT 'max_orderkey', max_orderkey FROM a"""),
    // the recurrence unrolled: h1 = degree, a1 = sum h1, h2 = sum a1,
    // a2 = sum h2 - all exact integers
    QuerySpec("q192_hits", q192_hits,
      """WITH ed AS (
           SELECT o_custkey AS c, l_suppkey AS sp
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         h1 AS (SELECT c, CAST(count(*) AS HUGEINT) AS h1 FROM ed GROUP BY 1),
         a1 AS (SELECT sp, sum(h1) AS a1
                FROM ed JOIN h1 USING (c) GROUP BY 1),
         h2 AS (SELECT c, sum(a1) AS h2
                FROM ed JOIN a1 USING (sp) GROUP BY 1),
         a2 AS (SELECT sp, sum(h2) AS a2
                FROM ed JOIN h2 USING (c) GROUP BY 1)
         SELECT sp AS s_suppkey, CAST(a2 AS BIGINT) AS auth_score
         FROM a2
         ORDER BY auth_score DESC, s_suppkey LIMIT 20"""),
    // DuckDB's ordered string_agg is the same SQL:2016 aggregate
    QuerySpec("q170_listagg", q170_listagg,
      """SELECT o_orderstatus,
                string_agg(CAST(o_orderkey AS VARCHAR), ','
                           ORDER BY o_orderkey) AS keys,
                count(*) AS n
         FROM orders WHERE o_orderkey <= 300
         GROUP BY o_orderstatus"""),
    // the reshape stated engine-independently as a UNION ALL
    QuerySpec("q171_unpivot", q171_unpivot, s"""
      WITH w AS (
        SELECT c_nationkey, count(*) AS n_cust,
               CAST(sum(${centsSql("c_acctbal")}) AS BIGINT) AS sum_bal_c,
               CAST(max(${centsSql("c_acctbal")}) AS BIGINT) AS max_bal_c
        FROM customer GROUP BY c_nationkey)
      SELECT c_nationkey, 'n_cust' AS metric, n_cust AS val FROM w
      UNION ALL
      SELECT c_nationkey, 'sum_bal_c', sum_bal_c FROM w
      UNION ALL
      SELECT c_nationkey, 'max_bal_c', max_bal_c FROM w"""),
    // same cents-banded classes; l = distinct sensitive values
    QuerySpec("q172_l_diversity", q172_l_diversity, s"""
      SELECT c_nationkey,
             (${centsSql("c_acctbal")} + 100000) // 100000 AS bal_band,
             count(*) AS n,
             CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l
      FROM customer
      GROUP BY 1, 2
      HAVING count(DISTINCT c_mktsegment) < 4"""),
    // host/lang rebuilt directly from the construction inputs
    QuerySpec("q173_domain_stats", q173_domain_stats,
      """SELECT source || '.example.com' AS host,
                count(*) AS n_docs,
                CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         FROM documents GROUP BY 1"""),
    // same integer rule battery: split/list_distinct/replace arithmetic
    QuerySpec("q168_gopher_quality", q168_gopher_quality, s"""
      WITH st AS (
        SELECT source,
               $tokCountSql AS n,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd,
               CAST(strlen(replace(text, ' ', '')) AS BIGINT) AS sumlen,
               $stopSumSql AS stop
        FROM documents)
      SELECT source, count(*) AS n_docs,
             CAST(sum(CASE WHEN n < 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
             CAST(sum(CASE WHEN nd*100 < n*45 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
             CAST(sum(CASE WHEN sumlen*2 > n*9 THEN 1 ELSE 0 END) AS BIGINT) AS n_long_words,
             CAST(sum(CASE WHEN stop*20 < n THEN 1 ELSE 0 END) AS BIGINT) AS n_low_stopword,
             CAST(sum(CASE WHEN NOT (n < 30) AND NOT (nd*100 < n*45)
                            AND NOT (sumlen*2 > n*9) AND NOT (stop*20 < n)
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
      FROM st GROUP BY source"""),
    // max of count*strlen(bigram) — the same tie-independent product
    QuerySpec("q169_top_bigram", q169_top_bigram,
      """WITH toks AS (
           SELECT doc_id, source, CAST(strlen(text) AS BIGINT) AS nc,
                  string_split(text, ' ') AS tk
           FROM documents),
         bg AS (
           SELECT doc_id, source, nc,
                  unnest(list_transform(range(1, len(tk)),
                                        i -> tk[i] || ' ' || tk[i+1])) AS bg
           FROM toks),
         cnt AS (
           SELECT doc_id, source, nc, bg, count(*) AS c
           FROM bg GROUP BY ALL),
         top AS (
           SELECT doc_id, any_value(source) AS source, any_value(nc) AS nc,
                  CAST(max(c*strlen(bg)) AS BIGINT) AS covered
           FROM cnt GROUP BY doc_id)
         SELECT source, count(*) AS n_docs,
                CAST(sum(CASE WHEN covered*20 > nc*3 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_repetitive,
                CAST(max((covered*1000000)//nc) AS BIGINT) AS max_cov_ppm
         FROM top GROUP BY source"""),
    QuerySpec("q167_collation", q167_collation,
      """WITH d AS (
           SELECT CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END
                    AS lang_cased
           FROM documents)
         SELECT lower(lang_cased) AS lang, count(*) AS n_docs,
                CAST(count(DISTINCT lang_cased) AS BIGINT) AS n_casings
         FROM d GROUP BY 1"""),
    // DuckDB runs the identical LATERAL shape natively
    QuerySpec("q166_lateral_topk", q166_lateral_topk,
      """SELECT c.c_custkey, o.o_orderkey, o.price_c
         FROM customer c
         JOIN LATERAL (
           SELECT o_orderkey,
                  CAST(round(o_totalprice*100) AS BIGINT) AS price_c
           FROM orders
           WHERE o_custkey = c.c_custkey
           ORDER BY o_totalprice DESC, o_orderkey
           LIMIT 2) o ON TRUE
         WHERE c.c_custkey <= 50"""),
    // DuckDB's JSON extraction replays the variant_get field access
    QuerySpec("q165_variant", q165_variant,
      """SELECT event_type, count(*) AS n,
              CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
              CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k
         FROM events GROUP BY 1"""),
    // identical time-interval RANGE frame semantics in both engines
    QuerySpec("q163_time_range_frame", q163_time_range_frame, s"""
      WITH ev AS (
        SELECT event_id, user_id, ts, ${centsSql("value")} AS v FROM events)
      SELECT event_id, user_id,
             CAST(sum(v) OVER w AS BIGINT) AS hour_sum_c,
             count(*) OVER w AS hour_n
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)"""),
    // IS NOT DISTINCT FROM = Spark's <=>; the null bucket matches itself
    // quadratically, real keys 1:1
    QuerySpec("q164_nullsafe_join", q164_nullsafe_join,
      """WITH o AS (
           SELECT CASE WHEN o_orderkey % 997 = 0 THEN NULL
                       ELSE o_orderkey END AS k
           FROM orders)
         SELECT a.k IS NULL AS is_null_bucket, count(*) AS n_matches
         FROM o a JOIN o b ON a.k IS NOT DISTINCT FROM b.k
         GROUP BY 1"""),
    // the oracle states the pruned star join from the source table;
    // isodow 1 = Monday (Spark dayofweek: Sunday=1, Monday=2)
    QuerySpec("q162_dynamic_pruning", q162_dynamic_pruning, s"""
      SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS d, count(*) AS n,
             CAST(sum(${centsSql("value")}) AS BIGINT) AS sum_v
      FROM events
      WHERE isodow(CAST(ts AS DATE)) = 1
      GROUP BY 1"""),
    // identical (doc_id, epoch) mix; overflow: (1e9 + 3*131)*2654435761
    // < 2^63
    QuerySpec("q161_epoch_order", q161_epoch_order,
      """SELECT doc_id,
              CAST(unnest(generate_series(1, 3)) AS BIGINT) AS epoch,
              ((doc_id % 1000000000
                + CAST(unnest(generate_series(1, 3)) AS BIGINT) * 131)
                * 2654435761) % 1000000007 AS order_key
         FROM documents"""),
    // q138's winnowing pair chain + the cross-language restriction
    QuerySpec("q160_bitext_candidates", q160_bitext_candidates,
      """WITH g AS (
           SELECT doc_id,
             list_transform(range(1, greatest(len(text)-7, 1)+1),
               i -> list_reduce(
                      list_prepend(CAST(0 AS BIGINT),
                        list_transform(string_split(substr(text, CAST(i AS INT), 8), ''),
                          c -> CAST(ascii(c) AS BIGINT))),
                      (acc, c) -> (acc*31 + c) % 1000000007)) AS gh
           FROM documents),
         w AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(gh)-15, 1)+1),
               j -> list_min(gh[CAST(j AS INT):CAST(j+15 AS INT)]))) AS fps
           FROM g),
         f AS (SELECT doc_id, unnest(fps) AS fp FROM w),
         d AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 50),
         pr AS (SELECT f.doc_id, f.fp FROM f JOIN d USING (fp)),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  CAST(count(*) AS BIGINT) AS n_shared
           FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc_id < b.doc_id
           GROUP BY 1, 2
           HAVING count(*) >= 3)
         SELECT id_a, id_b, da.lang AS lang_a, db.lang AS lang_b, n_shared
         FROM pairs
         JOIN documents da ON da.doc_id = id_a
         JOIN documents db ON db.doc_id = id_b
         WHERE da.lang <> db.lang"""),
    // identical quasi-identifier banding and k threshold
    QuerySpec("q159_k_anonymity", q159_k_anonymity,
      """SELECT lang, source, n_chars // 100 AS len_band, count(*) AS n
         FROM documents
         GROUP BY 1, 2, 3 HAVING count(*) < 5"""),
    // same power-of-two decay: 2^20 // (1 << age), zero past 20 days —
    // exact integers, no float exponentials
    QuerySpec("q158_time_decay", q158_time_decay, s"""
      WITH ev AS (
        SELECT user_id, CAST(ts AS DATE) AS d, ${centsSql("value")} AS v
        FROM events),
      a AS (SELECT max(d) AS d0 FROM ev),
      w AS (
        SELECT user_id, v,
               date_diff('day', d, d0) AS age,
               CASE WHEN date_diff('day', d, d0) > 20 THEN 0
                 ELSE 1048576 // (1 << date_diff('day', d, d0)) END AS wt
        FROM ev CROSS JOIN a)
      SELECT user_id, count(*) AS n_events,
             CAST(sum(v * wt) AS BIGINT) AS decayed_c,
             CAST(sum(CASE WHEN wt > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_in_horizon
      FROM w GROUP BY 1"""),
    // same k-th-order-statistic thresholds (k = 1 + (n-1)p//100, exact
    // cents, no interpolation) and the same clamp arithmetic
    QuerySpec("q157_winsorize", q157_winsorize, s"""
      WITH ev AS (
        SELECT event_type, event_id, ${centsSql("value")} AS v FROM events),
      c AS (SELECT event_type, count(*) AS n FROM ev GROUP BY 1),
      r AS (SELECT ev.*, row_number() OVER (PARTITION BY event_type
              ORDER BY v, event_id) AS rk FROM ev),
      th AS (
        SELECT r.event_type, min(v) AS p_lo, max(v) AS p_hi
        FROM r JOIN c USING (event_type)
        WHERE rk = 1 + ((n - 1) * 5) // 100
           OR rk = 1 + ((n - 1) * 95) // 100
        GROUP BY 1)
      SELECT ev.event_type, count(*) AS n,
             min(p_lo) AS p_lo, min(p_hi) AS p_hi,
             CAST(sum(v) AS BIGINT) AS sum_raw,
             CAST(sum(greatest(least(v, p_hi), p_lo)) AS BIGINT) AS sum_wins,
             CAST(sum(CASE WHEN v < p_lo OR v > p_hi THEN 1 ELSE 0 END)
               AS BIGINT) AS n_clipped
      FROM ev JOIN th USING (event_type) GROUP BY 1"""),
    // complete-mode stream equals the batch agg (q38 contract); top 3 by
    // (n DESC, user_id) replayed with row_number
    QuerySpec("q156_stream_window_topk", q156_stream_window_topk,
      """WITH c AS (
           SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start,
                  event_type, count(*) AS n
           FROM events GROUP BY 1, 2)
         SELECT w_start, event_type, n FROM (
           SELECT w_start, event_type, n,
                  row_number() OVER (PARTITION BY w_start
                    ORDER BY n DESC, event_type) AS rn
           FROM c) WHERE rn <= 3""", streaming = true),
    // same sqrt quotas over a 3/2-corpus budget; every lang emits exactly
    // quota rows: full repeats (quota // c) + the first (quota % c) docs
    // by mix rank once more
    QuerySpec("q154_epoch_repeat", q154_epoch_repeat,
      """WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY 1),
         q AS (SELECT lang, c, CAST(floor(sqrt(c)) AS BIGINT) AS isq FROM c),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                        (SELECT CAST(sum(isq) AS BIGINT) FROM q) AS sum_isq
                 FROM c),
         quota AS (
           SELECT lang, c, ((n * 3 // 2) * isq) // sum_isq AS quota
           FROM q CROSS JOIN tot),
         r AS (
           SELECT doc_id, lang,
                  row_number() OVER (PARTITION BY lang ORDER BY
                    ((doc_id % 1000000000) * 2654435761) % 1000000007,
                    doc_id) AS rk
           FROM documents),
         p AS (
           SELECT doc_id, r.lang,
                  (quota // c) +
                    (CASE WHEN rk <= quota % c THEN 1 ELSE 0 END) AS eps
           FROM r JOIN quota ON r.lang = quota.lang)
         SELECT doc_id, lang, CAST(unnest(generate_series(1, eps)) AS BIGINT)
                  AS epoch
         FROM p WHERE eps >= 1"""),
    // violations-only contract (q96 pattern): the gate passes when the
    // sketch honors its error bound, i.e. both sides are empty
    QuerySpec("q153_stream_window_ndv", q153_stream_window_ndv,
      """SELECT CAST(NULL AS TIMESTAMP) AS w_start,
              CAST(NULL AS BIGINT) AS exact_ndv,
              CAST(NULL AS BIGINT) AS approx_ndv
         WHERE FALSE""", streaming = true),
    // one SELECT per declared constraint, names matching the Scala
    // Constraint.name strings exactly
    QuerySpec("q152_validate", q152_validate,
      """SELECT 'not_null(l_orderkey)' AS check_name,
              CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_violations
         FROM lineitem
         UNION ALL
         SELECT 'qty_range',
              CAST(sum(CASE WHEN NOT coalesce(l_quantity >= 1
                AND l_quantity <= 50, FALSE) THEN 1 ELSE 0 END) AS BIGINT)
         FROM lineitem
         UNION ALL
         SELECT 'price_positive',
              CAST(sum(CASE WHEN NOT coalesce(l_extendedprice > 0, FALSE)
                THEN 1 ELSE 0 END) AS BIGINT)
         FROM lineitem
         UNION ALL
         SELECT 'unique(l_orderkey)',
              CAST(coalesce(sum(n - 1), 0) AS BIGINT)
         FROM (SELECT count(*) AS n FROM lineitem GROUP BY l_orderkey
               HAVING count(*) > 1)
         UNION ALL
         SELECT 'fk(l_orderkey)', CAST(count(*) AS BIGINT)
         FROM lineitem WHERE l_orderkey IS NOT NULL
           AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)
         UNION ALL
         SELECT 'fk(l_partkey)', CAST(count(*) AS BIGINT)
         FROM lineitem WHERE l_partkey IS NOT NULL
           AND l_partkey NOT IN (SELECT p_partkey FROM part)"""),
    // gen-1 rows (even ids) carry no n_chars; mergeSchema null-fills
    QuerySpec("q146_schema_evolution", q146_schema_evolution,
      """SELECT lang, count(*) AS n_docs,
              CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_v2,
              CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE 0 END)
                AS BIGINT) AS sum_chars
         FROM documents GROUP BY lang"""),
    // winnowing (k=8, w=16): per-gram q25 rolling hash, window minima,
    // distinct per doc — bit-identical integer arithmetic both engines
    QuerySpec("q137_winnowing", q137_winnowing,
      """WITH g AS (
           SELECT doc_id,
             list_transform(range(1, greatest(len(text)-7, 1)+1),
               i -> list_reduce(
                      list_prepend(CAST(0 AS BIGINT),
                        list_transform(string_split(substr(text, CAST(i AS INT), 8), ''),
                          c -> CAST(ascii(c) AS BIGINT))),
                      (acc, c) -> (acc*31 + c) % 1000000007)) AS gh
           FROM documents),
         w AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(gh)-15, 1)+1),
               j -> list_min(gh[CAST(j AS INT):CAST(j+15 AS INT)]))) AS fps
           FROM g)
         SELECT doc_id, unnest(fps) AS fp FROM w"""),
    // q137's extraction + df<=50 prune + bucket self-join + n_shared>=3
    QuerySpec("q138_winnowing_pairs", q138_winnowing_pairs,
      """WITH g AS (
           SELECT doc_id,
             list_transform(range(1, greatest(len(text)-7, 1)+1),
               i -> list_reduce(
                      list_prepend(CAST(0 AS BIGINT),
                        list_transform(string_split(substr(text, CAST(i AS INT), 8), ''),
                          c -> CAST(ascii(c) AS BIGINT))),
                      (acc, c) -> (acc*31 + c) % 1000000007)) AS gh
           FROM documents),
         w AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(gh)-15, 1)+1),
               j -> list_min(gh[CAST(j AS INT):CAST(j+15 AS INT)]))) AS fps
           FROM g),
         f AS (SELECT doc_id, unnest(fps) AS fp FROM w),
         d AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 50),
         pr AS (SELECT f.doc_id, f.fp FROM f JOIN d USING (fp))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(count(*) AS BIGINT) AS n_shared
         FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2
         HAVING count(*) >= 3"""),
    QuerySpec("q93_bpeish_tokens", q93_bpeish_tokens, {
      val aug = "text || ' v' || CAST(doc_id % 100 AS VARCHAR) || '.x!'"
      s"""SELECT doc_id,
                CAST(length($aug) - length(replace($aug, ' ', '')) + 1 AS BIGINT) AS n_ws,
                CAST(len(regexp_extract_all($aug, '${TextAnalysis.BpeishPattern}')) AS BIGINT) AS n_bpe
         FROM documents"""
    }),
    QuerySpec("q91_group_median", q91_group_median,
      s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                quantile_cont(${centsSql("o_totalprice")}, 0.25) AS p25_c,
                quantile_cont(${centsSql("o_totalprice")}, 0.5) AS median_c,
                quantile_cont(${centsSql("o_totalprice")}, 0.75) AS p75_c
         FROM orders GROUP BY o_orderpriority"""),
    QuerySpec("q84_ngram_topk", q84_ngram_topk,
      """SELECT gram, CAST(count(*) AS BIGINT) AS df FROM (
           SELECT unnest(list_distinct(CASE WHEN len(toks) >= 3
             THEN list_transform(range(1, len(toks)-1),
                                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [text] END)) AS gram
           FROM (SELECT text, string_split(text, ' ') AS toks FROM documents))
         GROUP BY gram ORDER BY df DESC, gram LIMIT 20"""),
    QuerySpec("q85_inverted_index", q85_inverted_index,
      """SELECT token, CAST(count(*) AS BIGINT) AS df,
                array_to_string(list_sort(list(doc_id)), ',') AS postings
         FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
               FROM documents)
         GROUP BY token
         HAVING count(*) <= (SELECT count(*) * 78 // 100 FROM documents)"""),
    QuerySpec("q94_zorder_roundtrip", q94_zorder_roundtrip,
      """SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
         WHERE l_orderkey BETWEEN 100 AND 700 AND l_partkey BETWEEN 50 AND 150"""),
    // the oracle reads the SOURCE: the partitioned write + pruned read
    // must be the identity on the lang='en' slice
    QuerySpec("q133_partitioned_write", q133_partitioned_write,
      "SELECT doc_id, lang, source, n_chars FROM documents WHERE lang = 'en'"),
    // the corruption rule IS the expected outcome
    QuerySpec("q134_json_permissive", q134_json_permissive,
      """SELECT o_orderkey,
                CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END AS k_val,
                CAST(CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END AS BIGINT)
                  AS is_corrupt
         FROM orders"""),
    QuerySpec("q95_sketch_quantiles", q95_sketch_quantiles,
      """SELECT CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS BIGINT) AS q_idx,
                CAST(NULL AS DOUBLE) AS approx
         WHERE FALSE"""),
    QuerySpec("q96_hll_ndv", q96_hll_ndv,
      """SELECT CAST(NULL AS VARCHAR) AS l_returnflag,
                CAST(NULL AS BIGINT) AS exact_ndv, CAST(NULL AS BIGINT) AS approx_ndv
         WHERE FALSE"""),
    QuerySpec("q97_corpus_pipeline", q97_corpus_pipeline,
      s"""WITH scored AS (
           SELECT doc_id, lang, text, $tokCountSql AS n_tokens,
                  $qualitySql AS quality
           FROM documents),
         kept AS (SELECT * FROM scored WHERE quality >= 0.5),
         dedup AS (
           SELECT doc_id, lang, n_tokens FROM (
             SELECT doc_id, lang, n_tokens,
                    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
             FROM kept) WHERE rn = 1)
         SELECT doc_id, lang, n_tokens,
                CAST(coalesce(sum(n_tokens) OVER (
                  PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 1000
                  AS BIGINT) AS shard_id
         FROM dedup"""),
    // Closure replay: same star edges, reachability as a recursive CTE
    // (UNION-dedup bounds the state), component = min reachable id.
    QuerySpec("q98_dup_clusters", q98_dup_clusters,
      s"""WITH RECURSIVE $dupClosureCtesSql
         SELECT id AS doc_id, CAST(component AS BIGINT) AS component,
                CAST(CASE WHEN component = id THEN 1 ELSE 0 END AS BIGINT)
                  AS is_canonical
         FROM comp"""),
    // Same mixture math declaratively: totals per weighted lang, binding
    // stratum by t/w (double ratio, lang tie-break — same IEEE compare
    // as the operator), integer cross-multiplied keep predicate.
    QuerySpec("q99_mixture_sample", q99_mixture_sample,
      s"""WITH toks AS (
           SELECT doc_id, lang, $tokCountSql AS n_tokens,
                  ((doc_id % 1000000000) * 2654435761) % 10000 AS bucket
           FROM documents WHERE lang IN ('en','de','zh')),
         w(s, wt) AS (VALUES ('en', CAST(6 AS BIGINT)), ('de', CAST(3 AS BIGINT)),
                             ('zh', CAST(1 AS BIGINT))),
         tot AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS t
                 FROM toks GROUP BY lang
                 HAVING coalesce(sum(n_tokens), 0) > 0),
         tw AS (SELECT tot.lang, t, wt FROM tot JOIN w ON w.s = tot.lang),
         m AS (SELECT t AS tstar, wt AS wstar FROM tw
               ORDER BY CAST(t AS DOUBLE)/wt, lang LIMIT 1)
         SELECT d.doc_id, d.lang, d.n_tokens, d.bucket
         FROM toks d JOIN tw ON tw.lang = d.lang CROSS JOIN m
         WHERE d.bucket * CAST(m.wstar AS HUGEINT) * tw.t
               < CAST(10000 AS HUGEINT) * tw.wt * m.tstar"""),
    // Per-user hourly spine via generate_series (inclusive, like Spark's
    // sequence); IGNORE NULLS last_value = the forward fill.
    QuerySpec("q100_ts_gapfill", q100_ts_gapfill,
      s"""WITH e AS (
           SELECT user_id, date_trunc('hour', ts) AS h, value
           FROM events WHERE user_id < 40),
         hourly AS (
           SELECT user_id, h, CAST(count(*) AS BIGINT) AS n_events,
                  CAST(sum(${centsSql("value")}) AS BIGINT) AS sv
           FROM e GROUP BY user_id, h),
         bounds AS (SELECT user_id, min(h) AS lo, max(h) AS hi
                    FROM e GROUP BY user_id),
         spine AS (SELECT user_id,
                          unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
                   FROM bounds)
         SELECT s.user_id, CAST(epoch(s.h) AS BIGINT) AS h_epoch,
                CAST(coalesce(hr.n_events, 0) AS BIGINT) AS n_events,
                CAST(coalesce(last_value(hr.sv IGNORE NULLS) OVER (
                  PARTITION BY s.user_id ORDER BY s.h
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
                  AS BIGINT) AS sum_value_c
         FROM spine s LEFT JOIN hourly hr
           ON hr.user_id = s.user_id AND hr.h = s.h"""),
    // The bloom prune is result-transparent (exact join removes false
    // positives), so the oracle is simply the unpruned join.
    QuerySpec("q101_bloom_join", q101_bloom_join,
      s"""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(${centsSql("l_extendedprice*(1-l_discount)")}) AS BIGINT)
                  AS revenue_c
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority = '1-URGENT'
         GROUP BY l_returnflag"""),
    // pivot∘unpivot = identity on non-empty cells = the plain GROUP BY
    QuerySpec("q102_pivot_unpivot", q102_pivot_unpivot,
      s"""SELECT l_returnflag, l_linestatus,
                CAST(sum(${centsSql("l_quantity")}) AS BIGINT) AS sum_qty_c
         FROM lineitem WHERE l_linestatus IN ('F', 'O')
         GROUP BY l_returnflag, l_linestatus"""),
    // Same dimension-parallel expansion via lateral unnest over indexes;
    // 2^-20 fixed-point quantization is exact on both sides.
    QuerySpec("q103_label_centroids", q103_label_centroids,
      """WITH ex AS (
           SELECT label, u.i AS dim, e.embedding[u.i + 1] AS v
           FROM embeddings e, unnest(range(len(e.embedding))) AS u(i))
         SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
                CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1048576) AS BIGINT))
                  AS BIGINT) AS sum_q,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1048576) AS BIGINT))
                  AS DOUBLE) / count(*) / 1048576.0 AS mean
         FROM ex GROUP BY label, dim"""),
    QuerySpec("q104_exact_k_sample", q104_exact_k_sample,
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY ((doc_id % 1000000000) * 2654435761) % 1000000007,
                             doc_id) AS rn
           FROM documents) WHERE rn <= 20"""),
    // From-scratch recompute: the algebraic merge must equal this exactly.
    QuerySpec("q105_incremental_agg", q105_incremental_agg,
      s"""SELECT l_returnflag, l_linestatus,
                CAST(sum(${centsSql("l_quantity")}) AS BIGINT) AS q_c_sum,
                CAST(count(*) AS BIGINT) AS q_c_cnt,
                CAST(min(${centsSql("l_quantity")}) AS BIGINT) AS q_c_min,
                CAST(max(${centsSql("l_quantity")}) AS BIGINT) AS q_c_max,
                CAST(sum(${centsSql("l_quantity")}) AS DOUBLE) / count(*) AS q_c_mean
         FROM lineitem GROUP BY l_returnflag, l_linestatus"""),
    // Salting must be result-invisible: oracle is the plain join.
    QuerySpec("q106_salted_join", q106_salted_join,
      s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(${centsSql("l_extendedprice*(1-l_discount)")}) AS BIGINT)
                  AS revenue_c
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority = '1-URGENT'
         GROUP BY o_orderpriority"""),
    // Bucketing is a physical-layout property; values = the plain join.
    QuerySpec("q107_bucketed_join", q107_bucketed_join,
      s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(${centsSql("l_extendedprice*(1-l_discount)")}) AS BIGINT)
                  AS revenue_c
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority"""),
    // Centroids via the q103 fixed-point math (bit-identical doubles),
    // assignment by the same sequential-fold cosine as the knn oracle,
    // ties to the lowest label.
    QuerySpec("q108_centroid_assign", q108_centroid_assign, {
      val dot = dotSql("ev", "cv"); val nc = dotSql("cv", "cv")
      s"""WITH ex AS (
           SELECT label, u.i AS dim, e.embedding[u.i + 1] AS v
           FROM embeddings e, unnest(range(len(e.embedding))) AS u(i)),
         cent AS (
           SELECT label AS c_label, dim,
                  CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1048576) AS BIGINT))
                    AS DOUBLE) / count(*) / 1048576.0 AS m
           FROM ex GROUP BY label, dim),
         carr AS (SELECT c_label, list(m ORDER BY dim) AS cv
                  FROM cent GROUP BY c_label),
         v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ev
               FROM embeddings),
         sc AS (SELECT vec_id, label, c_label, ($dot)/sqrt($nc) AS sim
                FROM v, carr),
         best AS (SELECT vec_id, label, c_label FROM (
           SELECT vec_id, label, c_label,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY sim DESC, c_label) AS rn
           FROM sc) WHERE rn = 1)
         SELECT CAST(label AS BIGINT) AS label,
                CAST(c_label AS BIGINT) AS assigned,
                CAST(count(*) AS BIGINT) AS n
         FROM best GROUP BY label, c_label""" }),
    // q98's closure + q97's quality formula; best-per-cluster by
    // (quality DESC, doc_id).
    QuerySpec("q109_canonical_pick", q109_canonical_pick,
      s"""WITH RECURSIVE $dupClosureCtesSql,
         scored AS (
           SELECT doc_id, lang, $qualitySql AS quality
           FROM documents)
         SELECT component, doc_id AS canonical_id, lang, quality FROM (
           SELECT c.component, s.doc_id, s.lang, s.quality,
                  row_number() OVER (PARTITION BY c.component
                    ORDER BY s.quality DESC, s.doc_id) AS rn
           FROM comp c JOIN scored s ON s.doc_id = c.id)
         WHERE rn = 1"""),
    // Brute-force all-pairs over the vocabulary — sound as an oracle
    // because the vocab is tiny; the operator's blocking must find the
    // exact same set.
    QuerySpec("q110_fuzzy_join", q110_fuzzy_join,
      """WITH v AS (
           SELECT DISTINCT unnest(string_split(text, ' ')) AS w
           FROM documents),
         v2 AS (SELECT w FROM v WHERE length(w) > 0)
         SELECT a.w AS word_a, b.w AS word_b,
                CAST(levenshtein(a.w, b.w) AS BIGINT) AS dist
         FROM v2 a, v2 b
         WHERE a.w < b.w AND levenshtein(a.w, b.w) <= 2"""),
    QuerySpec("q111_funnel", q111_funnel,
      """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
                  WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e
               JOIN v ON v.user_id = e.user_id
               WHERE e.event_type = 'click' AND e.ts > v.t_view
               GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
               JOIN c ON c.user_id = e.user_id
               WHERE e.event_type = 'purchase' AND e.ts > c.t_click
               GROUP BY e.user_id)
         SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
                CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click,
                CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase"""),
    QuerySpec("q112_heavy_hitters", q112_heavy_hitters,
      """SELECT CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS VARCHAR) AS kind,
                CAST(NULL AS VARCHAR) AS item, CAST(NULL AS BIGINT) AS got,
                CAST(NULL AS BIGINT) AS want
         WHERE FALSE"""),
    QuerySpec("q113_pagerank", q113_pagerank, pageRankOracleSql(iterations = 3, scale = 1L << 20)),
    // Same dirty-text derivation, RE2 patterns with 'g' (= Java
    // replaceAll); counts via regexp_extract_all length.
    QuerySpec("q114_pii_scrub", q114_pii_scrub, {
      val email = graft.operators.TextAnalysis.EmailPattern
      val phone = graft.operators.TextAnalysis.PhonePattern
      val ip = graft.operators.TextAnalysis.IpPattern
      s"""WITH dirty AS (
           SELECT doc_id, text
             || CASE WHEN doc_id % 3 = 0
                THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
                ELSE '' END
             || CASE WHEN doc_id % 2 = 0
                THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
                     || CAST(doc_id % 100 AS VARCHAR)
                ELSE '' END AS t
           FROM documents)
         SELECT doc_id,
                CAST(len(regexp_extract_all(t, '$email')) AS BIGINT) AS n_email,
                CAST(len(regexp_extract_all(t, '$phone')) AS BIGINT) AS n_phone,
                CAST(len(regexp_extract_all(t, '$ip')) AS BIGINT) AS n_ip,
                regexp_replace(regexp_replace(regexp_replace(t,
                  '$email', '<EMAIL>', 'g'),
                  '$phone', '<PHONE>', 'g'),
                  '$ip', '<IP>', 'g') AS clean
         FROM dirty""" }),
    // q84's gram construction (distinct per doc), per-source df, >30%
    // integer cross-multiplied threshold, count(b.gram) = non-null.
    QuerySpec("q115_boilerplate", q115_boilerplate,
      """WITH g AS (
           SELECT doc_id, source, unnest(list_distinct(CASE WHEN len(toks) >= 3
             THEN list_transform(range(1, len(toks)-1),
                                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [text] END)) AS gram
           FROM (SELECT doc_id, source, text, string_split(text, ' ') AS toks
                 FROM documents)),
         nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
         b AS (SELECT f.source, f.gram
               FROM (SELECT source, gram, count(*) AS df
                     FROM g GROUP BY source, gram) f
               JOIN nd ON nd.source = f.source
               WHERE f.df * 100 > nd.n_docs * 30)
         SELECT g.doc_id, g.source, CAST(count(*) AS BIGINT) AS n_grams,
                CAST(count(b.gram) AS BIGINT) AS n_boiler
         FROM g LEFT JOIN b ON b.source = g.source AND b.gram = g.gram
         GROUP BY g.doc_id, g.source"""),
    // Same stride-aligned window arithmetic (positions 1 + 10·i, i in
    // 0..(len-40)//10), distinct per doc, df ≥ 2 = duplicated.
    QuerySpec("q117_window_dedup", q117_window_dedup,
      """WITH w AS (
           SELECT DISTINCT doc_id, substr(text, 1 + 10 * CAST(u.i AS INTEGER), 40) AS w
           FROM documents, unnest(range((length(text) - 40) // 10 + 1)) AS u(i)
           WHERE length(text) >= 40),
         dup AS (SELECT w FROM w GROUP BY w HAVING count(*) >= 2),
         per AS (SELECT doc_id, count(*) AS n_windows, count(dup.w) AS n_dup
                 FROM w LEFT JOIN dup ON dup.w = w.w GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(coalesce(per.n_windows, 0) AS BIGINT) AS n_windows,
                CAST(coalesce(per.n_dup, 0) AS BIGINT) AS n_dup
         FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id"""),
    // Identical chunk-count / start / length integer arithmetic over
    // string_split tokens; list_slice's inclusive end = start + len - 1.
    QuerySpec("q118_chunking", q118_chunking,
      """WITH x AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         c AS (SELECT doc_id, toks,
                      CAST(u.i AS BIGINT) AS chunk_id,
                      1 + 24 * CAST(u.i AS INTEGER) AS st,
                      least(32, len(toks) - (1 + 24 * CAST(u.i AS INTEGER)) + 1) AS l
               FROM x, unnest(range(CASE WHEN len(toks) <= 32 THEN 1
                                    ELSE 1 + (len(toks) - 32 + 23) // 24 END)) AS u(i))
         SELECT doc_id, chunk_id,
                array_to_string(list_slice(toks, st, st + l - 1), ' ') AS chunk,
                CAST(l AS BIGINT) AS n_tokens
         FROM c"""),
    // q103's 2^-20 fixed point, then nonnegative-only floor division:
    // sign(v)·((|v|·127) // max) — identical in DuckDB and Spark.
    QuerySpec("q119_int8_quantize", q119_int8_quantize,
      """WITH ex AS (
           SELECT vec_id, u.i AS dim,
                  CAST(round(CAST(e.embedding[u.i + 1] AS DOUBLE) * 1048576)
                    AS BIGINT) AS v
           FROM embeddings e, unnest(range(len(e.embedding))) AS u(i)),
         mx AS (SELECT vec_id, max(abs(v)) AS m FROM ex GROUP BY vec_id)
         SELECT ex.vec_id, CAST(ex.dim AS BIGINT) AS dim,
                CASE WHEN m = 0 THEN 0
                     ELSE CAST(sign(v) AS BIGINT) * ((abs(v) * 127) // m)
                END AS q8,
                CAST(m AS BIGINT) AS max_q
         FROM ex JOIN mx ON mx.vec_id = ex.vec_id"""),
    // Cumulative-histogram thresholds (smallest value whose cumulative
    // count crosses ¼ / ¾ of the stratum), band predicate on values.
    QuerySpec("q116_band_filter", q116_band_filter,
      """WITH h AS (SELECT lang, n_chars, count(*) AS c
                  FROM documents GROUP BY lang, n_chars),
         cum AS (SELECT lang, n_chars,
                        sum(c) OVER (PARTITION BY lang ORDER BY n_chars) AS cum,
                        sum(c) OVER (PARTITION BY lang) AS cnt
                 FROM h),
         th AS (SELECT lang,
                       min(CASE WHEN cum * 4 >= cnt THEN n_chars END) AS lo,
                       min(CASE WHEN cum * 4 >= cnt * 3 THEN n_chars END) AS hi
                FROM cum GROUP BY lang)
         SELECT doc_id, d.lang, n_chars
         FROM documents d JOIN th ON th.lang = d.lang
         WHERE n_chars > th.lo AND n_chars <= th.hi"""),
    QuerySpec("q68_repetition", q68_repetition,
      """WITH x AS (
           SELECT doc_id,
             CAST(CASE WHEN len(toks) >= 3 THEN len(toks) - 2 ELSE 1 END AS BIGINT) AS n_grams,
             CAST(len(list_distinct(CASE WHEN len(toks) >= 3
               THEN list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
               ELSE [text] END)) AS BIGINT) AS n_distinct
           FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents))
         SELECT doc_id, n_grams, n_distinct,
                CAST(n_grams - n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE) AS rep_frac
         FROM x"""),
    QuerySpec("q32_events_window", q32_events_window,
      s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, event_type, count(*) AS n,
         CAST(sum(${centsSql("value")}) AS BIGINT) AS sum_value_c
         FROM events GROUP BY 1, 2"""),
    QuerySpec("q33_asof_join", q33_asof_join,
      """WITH m AS (
           SELECT e.event_id, max(o.o_orderdate) AS asof_date
           FROM events e JOIN orders o
             ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
           GROUP BY e.event_id)
         SELECT e.event_id, e.user_id, m.asof_date,
                CAST(max(o.o_orderkey) AS BIGINT) AS asof_orderkey
         FROM events e
         JOIN m ON m.event_id = e.event_id
         JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate = m.asof_date
         GROUP BY e.event_id, e.user_id, m.asof_date"""),
    QuerySpec("q34_sessionize", q34_sessionize,
      """WITH x AS (
           SELECT user_id, ts,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
           FROM events)
         SELECT user_id,
                CAST(sum(CASE WHEN pts IS NULL
                              OR (epoch_us(ts) - epoch_us(pts)) > 1800000000
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
         FROM x GROUP BY user_id"""),
    QuerySpec("q35_multimodal", q35_multimodal,
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
         CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
         CAST(CASE WHEN doc_id % 2 = 0 THEN 33 ELSE 23 END AS BIGINT) AS n_bytes,
         CAST(1 + doc_id % 1024 AS INTEGER) AS width,
         CAST(1 + (doc_id*7) % 768 AS INTEGER) AS height,
         3 AS channels FROM documents"""),
    QuerySpec("q36_json", q36_json,
      """SELECT event_type, count(*) AS n,
         CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
         max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
         FROM events GROUP BY event_type"""),
    QuerySpec("q37_txn_visibility", q37_txn_visibility,
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0"),
    // the t1 snapshot: %3==0 only (t2's %3==1 slice is committed in the
    // CURRENT state but not as of t1 — a read() here would see both)
    QuerySpec("q126_txn_timetravel", q126_txn_timetravel,
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0"),
    // compaction preserves foldCommitted exactly: current snapshot =
    // subsumed (%4=0) ∪ straddler (%4=1) ∪ live (%4=2) slices with the
    // abort (%4=3) invisible; the straddler's as-of snapshot = base +
    // its own slice — both read from the COMPACTED tape after a cold
    // reopen, both stated declaratively here
    QuerySpec("q234_txn_compaction", q234_txn_compaction,
      """SELECT o_orderkey, o_custkey, o_totalprice, 'now' AS snap
         FROM orders WHERE o_orderkey % 4 IN (0, 1, 2)
         UNION ALL
         SELECT o_orderkey, o_custkey, o_totalprice, 'asof_straddler' AS snap
         FROM orders WHERE o_orderkey % 4 IN (0, 1)"""),
    // retention compaction keeps time travel alive INSIDE the retained
    // window: current snapshot = all three slices; the as-of snapshot
    // of the txn committed BETWEEN the two retained checkpoints = the
    // pre-window slice (via the older checkpoint base) + its own —
    // both read from the retention-compacted tape after a cold reopen
    QuerySpec("q236_txn_retention", q236_txn_retention,
      """SELECT o_orderkey, o_custkey, o_totalprice, 'now' AS snap
         FROM orders WHERE o_orderkey % 3 IN (0, 1, 2)
         UNION ALL
         SELECT o_orderkey, o_custkey, o_totalprice, 'asof_in_window' AS snap
         FROM orders WHERE o_orderkey % 3 IN (0, 1)"""),
    // the three-trigger watermark replay (see q237's scaladoc; rules
    // pinned by WmProbeSpec): the late file's drop watermark = ms-
    // floored max BULK ts - 120h (trigger 1's eviction wm — the value
    // previous to trigger 2's update); a late row drops iff its 1-hour
    // WINDOW END <= that wm (window-end rule, not raw ts); final
    // watermark = ms-floored GLOBAL max ts - 120h (late rows still
    // advance it); a window emits iff its end <= the final wm, once
    QuerySpec("q237_stream_watermark_eviction", q237_stream_watermark_eviction,
      """WITH mx AS (SELECT max(ts) AS m FROM events),
         bulk AS (SELECT e.ts, e.event_type FROM events e, mx
               WHERE e.ts <= mx.m - INTERVAL 5 DAY AND e.event_id % 5 <> 0
                 AND e.event_id % 7 <> 0),
         carrier AS (SELECT e.ts, e.event_type FROM events e, mx
               WHERE e.ts <= mx.m - INTERVAL 5 DAY AND e.event_id % 5 <> 0
                 AND e.event_id % 7 = 0),
         wmlate AS (SELECT (epoch_us(max(ts)) // 1000) - 432000000 AS w
                    FROM bulk),
         late AS (SELECT e.ts, e.event_type FROM events e, mx
               WHERE e.ts > mx.m - INTERVAL 5 DAY OR e.event_id % 5 = 0),
         surv AS (SELECT ts, event_type FROM bulk
                  UNION ALL
                  SELECT ts, event_type FROM carrier
                  UNION ALL
                  SELECT l.ts, l.event_type FROM late l, wmlate
                  WHERE (epoch_us(date_trunc('hour', l.ts)) // 1000)
                          + 3600000 > wmlate.w),
         wmfin AS (SELECT (epoch_us(max(ts)) // 1000) - 432000000 AS w
                   FROM events)
         SELECT date_trunc('hour', ts) AS w_start, event_type,
                CAST(count(*) AS BIGINT) AS n
         FROM surv, wmfin
         WHERE (epoch_us(date_trunc('hour', ts)) // 1000) + 3600000 <= wmfin.w
         GROUP BY 1, 2""", streaming = true),
    // sessionize's straggler/divergence boundary (see the q238 scaladoc
    // for the per-batch rules being replayed; gap = 30 min = 1.8e9 us,
    // lateness = 120 h = 4.32e8 ms; timeouts use q127's ceil-ms strict-<
    // arithmetic). Slice predicates mirror sessionStragglerStreamDir;
    // the guard band (cutoff, cutoff+1h] is off the tape on both sides.
    QuerySpec("q238_stream_session_straggler", q238_stream_session_straggler,
      """WITH par AS (SELECT max(ts) - INTERVAL 5 DAY AS c,
                  max(ts) - INTERVAL 5 DAY - INTERVAL 119 HOUR AS lo,
                  max(ts) - INTERVAL 5 DAY + INTERVAL 1 HOUR AS hi
           FROM events),
         b0 AS (SELECT e.user_id, e.ts, e.event_id FROM events e, par
                WHERE e.ts <= par.c
                  AND (e.ts <= par.lo OR e.event_id % 2 <> 0
                       OR e.user_id % 3 <> 0
                       OR (e.user_id % 18 = 9
                           AND e.ts <= par.c - INTERVAL 60 HOUR))
                  AND NOT (e.user_id % 9 = 3
                           AND e.ts > par.c - INTERVAL 121 HOUR)
                  AND e.user_id % 9 <> 6
                  AND NOT (e.user_id % 18 = 9
                           AND e.ts > par.c - INTERVAL 61 HOUR)),
         tl AS (SELECT e.user_id, e.ts, e.event_id FROM events e, par
                WHERE e.ts > par.hi AND e.user_id % 3 <> 0),
         rp AS (SELECT e.user_id, e.ts, e.event_id FROM events e, par
                WHERE e.ts <= par.c AND e.ts > par.lo AND e.event_id % 2 = 0
                  AND e.user_id % 3 = 0
                  AND (e.user_id % 18 <> 9
                       OR e.ts > par.c - INTERVAL 60 HOUR)),
         wm1 AS (SELECT (epoch_us(max(ts)) // 1000) - 432000000 AS w FROM b0),
         wmf AS (SELECT (epoch_us(max(ts)) // 1000) - 432000000 AS w
                 FROM events e, par
                 WHERE e.ts <= par.c
                    OR (e.ts > par.hi AND e.user_id % 3 <> 0)),
         b0z AS (SELECT user_id, ts, event_id,
                  sum(CASE WHEN pts IS NULL
                       OR (epoch_us(ts) - epoch_us(pts)) > 1800000000
                       THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                 FROM (SELECT user_id, ts, event_id,
                         lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS pts
                       FROM b0)),
         b0s AS (SELECT user_id, sid, min(ts) AS s_start, max(ts) AS s_end,
                  CAST(count(*) AS BIGINT) AS n_events
                 FROM b0z GROUP BY user_id, sid),
         b0last AS (SELECT user_id, max(sid) AS msid FROM b0s GROUP BY user_id),
         tlz AS (SELECT user_id, ts, event_id,
                  sum(CASE WHEN pts IS NULL
                       OR (epoch_us(ts) - epoch_us(pts)) > 1800000000
                       THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                 FROM (SELECT user_id, ts, event_id,
                         lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS pts
                       FROM tl)),
         tls AS (SELECT user_id, sid, min(ts) AS s_start, max(ts) AS s_end,
                  CAST(count(*) AS BIGINT) AS n_events
                 FROM tlz GROUP BY user_id, sid),
         tllast AS (SELECT user_id, max(sid) AS msid FROM tls GROUP BY user_id),
         lastb0 AS (SELECT s.user_id, s.s_start, s.s_end, s.n_events
                    FROM b0s s JOIN b0last l
                      ON s.user_id = l.user_id AND s.sid = l.msid),
         seed AS (SELECT s.* FROM lastb0 s, wm1
                  WHERE s.user_id NOT IN (SELECT user_id FROM tl)
                    AND NOT (((epoch_us(s.s_end) + 1800000000 + 999) // 1000)
                             < wm1.w)),
         rz AS (SELECT user_id, ts, event_id, seed_start, seed_end, seed_n,
                  sum(CASE WHEN pts IS NULL AND seed_end IS NULL THEN 1
                       WHEN epoch_us(ts) - greatest(
                              coalesce(epoch_us(pts), -4611686018427387904),
                              coalesce(epoch_us(seed_end), -4611686018427387904))
                            > 1800000000
                       THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                 FROM (SELECT r.user_id, r.ts, r.event_id,
                         sd.s_start AS seed_start, sd.s_end AS seed_end,
                         sd.n_events AS seed_n,
                         lag(r.ts) OVER (PARTITION BY r.user_id
                                         ORDER BY r.ts, r.event_id) AS pts
                       FROM rp r LEFT JOIN seed sd ON r.user_id = sd.user_id)),
         rs AS (SELECT user_id, sid, min(ts) AS rmin, max(ts) AS rmax,
                  CAST(count(*) AS BIGINT) AS rcnt,
                  min(seed_start) AS seed_start, min(seed_end) AS seed_end,
                  min(seed_n) AS seed_n
                 FROM rz GROUP BY user_id, sid),
         rlast AS (SELECT user_id, max(sid) AS msid FROM rs GROUP BY user_id),
         rses AS (SELECT r.user_id,
                   CASE WHEN r.sid = 0 THEN least(r.seed_start, r.rmin)
                        ELSE r.rmin END AS s_start,
                   CASE WHEN r.sid = 0 THEN greatest(r.seed_end, r.rmax)
                        ELSE r.rmax END AS s_end,
                   CASE WHEN r.sid = 0 THEN r.seed_n + r.rcnt
                        ELSE r.rcnt END AS n_events,
                   r.sid, l.msid
                  FROM rs r JOIN rlast l ON r.user_id = l.user_id)
         SELECT s.user_id, s.s_start, s.s_end, s.n_events
         FROM b0s s JOIN b0last l
           ON s.user_id = l.user_id AND s.sid < l.msid
         UNION ALL
         SELECT s.user_id, s.s_start, s.s_end, s.n_events
         FROM lastb0 s WHERE s.user_id IN (SELECT user_id FROM tl)
         UNION ALL
         SELECT s.user_id, s.s_start, s.s_end, s.n_events
         FROM lastb0 s, wm1
         WHERE s.user_id NOT IN (SELECT user_id FROM tl)
           AND s.user_id IN (SELECT user_id FROM rp)
           AND ((epoch_us(s.s_end) + 1800000000 + 999) // 1000) < wm1.w
         UNION ALL
         SELECT sd.user_id, sd.s_start, sd.s_end, sd.n_events
         FROM seed sd
         WHERE sd.user_id IN (SELECT user_id FROM rp)
           AND NOT EXISTS (SELECT 1 FROM rs
                           WHERE rs.user_id = sd.user_id AND rs.sid = 0)
         UNION ALL
         SELECT s.user_id, s.s_start, s.s_end, s.n_events
         FROM lastb0 s, wmf
         WHERE s.user_id NOT IN (SELECT user_id FROM tl)
           AND s.user_id NOT IN (SELECT user_id FROM rp)
           AND ((epoch_us(s.s_end) + 1800000000 + 999) // 1000) < wmf.w
         UNION ALL
         SELECT r.user_id, r.s_start, r.s_end, r.n_events
         FROM rses r, wmf
         WHERE r.sid < r.msid
            OR ((epoch_us(r.s_end) + 1800000000 + 999) // 1000) < wmf.w
         UNION ALL
         SELECT s.user_id, s.s_start, s.s_end, s.n_events
         FROM tls s JOIN tllast l ON s.user_id = l.user_id, wmf
         WHERE s.sid < l.msid
            OR ((epoch_us(s.s_end) + 1800000000 + 999) // 1000) < wmf.w""", streaming = true),
    // file compaction is a pure layout rewrite: the full relation —
    // including the partition column round-tripped through directory
    // names — must equal the source table exactly
    QuerySpec("q235_file_compaction", q235_file_compaction,
      s"""SELECT event_id, user_id, event_type,
            ${centsSql("value")} AS v FROM events"""),
    QuerySpec("q38_stream_window", q38_stream_window,
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start, event_type,
         count(*) AS n FROM events GROUP BY 1, 2""", streaming = true),
    QuerySpec("q39_union", q39_union,
      """SELECT src, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k FROM (
           SELECT c_custkey AS k, 'cust' AS src FROM customer
           UNION ALL
           SELECT s_suppkey AS k, 'supp' AS src FROM supplier)
         GROUP BY src"""),
    QuerySpec("q40_cube", q40_cube,
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS sum_price_c
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)"""),
    QuerySpec("q41_grouping_sets", q41_grouping_sets,
      """SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"""),
    QuerySpec("q42_subqueries", q42_subqueries,
      """SELECT c_custkey,
           (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
         FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)"""),
    QuerySpec("q43_outer_joins", q43_outer_joins,
      s"""SELECT c_mktsegment, count(*) AS n_rows, count(o_orderkey) AS n_orders,
         coalesce(CAST(sum(${centsSql("o_totalprice")}) AS BIGINT), 0) AS sum_price_c
         FROM customer c LEFT JOIN
           (SELECT * FROM orders WHERE o_totalprice > 150000) o
           ON c.c_custkey = o.o_custkey
         GROUP BY c_mktsegment"""),
    QuerySpec("q44_conditional_agg", q44_conditional_agg,
      s"""SELECT l_returnflag,
         CAST(sum(CASE WHEN l_quantity < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_small,
         CAST(sum(CASE WHEN l_quantity >= 40 THEN 1 ELSE 0 END) AS BIGINT) AS n_large,
         CAST(sum(CASE WHEN l_discount > 0.05 THEN ${centsSql("l_extendedprice")} ELSE 0 END) AS BIGINT) AS disc_price_c
         FROM lineitem GROUP BY l_returnflag"""),
    // Products in HUGEINT (sums already widen there) — n·Σx² overflows
    // BIGINT from sf0.1 up; exact integer → double rounds identically
    // to Spark's decimal(38,0) path.
    QuerySpec("q45_variance", q45_variance,
      """SELECT o_orderpriority, n,
           CAST(CAST(n AS HUGEINT)*sxx - sx*sx AS DOUBLE) / (n*(n-1)) AS var_price
         FROM (SELECT o_orderpriority, count(*) AS n,
                 sum(CAST(round(o_totalprice) AS BIGINT)) AS sx,
                 sum(CAST(round(o_totalprice) AS BIGINT) * CAST(round(o_totalprice) AS BIGINT)) AS sxx
               FROM orders GROUP BY o_orderpriority)"""),
    QuerySpec("q46_range_join", q46_range_join,
      s"""SELECT p_brand, count(*) AS n,
         CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT) AS sum_price_c
         FROM lineitem l JOIN part p
           ON l.l_partkey = p.p_partkey
          AND l.l_quantity >= p.p_size - 5 AND l.l_quantity <= p.p_size + 5
         GROUP BY p_brand"""),
    QuerySpec("q48_count_distinct", q48_count_distinct,
      """SELECT l_returnflag,
         count(DISTINCT l_partkey) AS nd_part,
         count(DISTINCT (l_suppkey, l_partkey)) AS nd_supp_part,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag"""),
    QuerySpec("q49_edit_distance", q49_edit_distance,
      """SELECT p_partkey,
         CAST(levenshtein(p_brand, p_type) AS BIGINT) AS dist_bt,
         CAST(levenshtein(p_name, 'standard polished tin') AS BIGINT) AS dist_std
         FROM part"""),
    QuerySpec("q50_window_funcs", q50_window_funcs,
      """SELECT o_orderkey, o_orderpriority,
         rank() OVER w AS rnk,
         dense_rank() OVER w AS drnk,
         ntile(4) OVER w AS quartile,
         lag(o_orderkey, 1) OVER w AS prev_key,
         lead(o_orderkey, 1) OVER w AS next_key
         FROM orders WHERE o_orderkey <= 2000
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice DESC, o_orderkey)"""),
    QuerySpec("q51_tpch_q1", q51_tpch_q1,
      s"""SELECT l_returnflag, l_linestatus,
         CAST(sum(${centsSql("l_quantity")}) AS BIGINT) AS sum_qty_c,
         CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT) AS sum_base_price_c,
         CAST(sum(${centsSql("l_extendedprice*(1-l_discount)")}) AS BIGINT) AS sum_disc_price_c,
         CAST(sum(${centsSql("l_extendedprice*(1-l_discount)*(1+l_tax)")}) AS BIGINT) AS sum_charge_c,
         count(*) AS count_order,
         CAST(sum(${centsSql("l_quantity")}) AS DOUBLE)/100/count(*) AS avg_qty,
         CAST(sum(${centsSql("l_extendedprice")}) AS DOUBLE)/100/count(*) AS avg_price
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus"""),
    QuerySpec("q52_tpch_q3", q52_tpch_q3,
      s"""SELECT l_orderkey, o_orderdate,
         CAST(sum(${centsSql("l_extendedprice*(1-l_discount)")}) AS BIGINT) AS revenue_c
         FROM customer, orders, lineitem
         WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
           AND o_orderkey = l_orderkey
           AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
           AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
         GROUP BY l_orderkey, o_orderdate
         ORDER BY revenue_c DESC, l_orderkey LIMIT 10"""),
    QuerySpec("q53_tpch_q5", q53_tpch_q5,
      s"""SELECT n_name,
         CAST(sum(${centsSql("l_extendedprice*(1-l_discount)")}) AS BIGINT) AS revenue_c
         FROM customer, orders, lineitem, supplier, nation, region
         WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
           AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY n_name"""),
    QuerySpec("q54_tpch_q6", q54_tpch_q6,
      s"""SELECT coalesce(CAST(sum(${centsSql("l_extendedprice*l_discount")}) AS BIGINT), 0) AS revenue_c
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
           AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"""),
    QuerySpec("q55_tpch_q10", q55_tpch_q10,
      s"""SELECT c_custkey, c_name, n_name,
         CAST(sum(${centsSql("l_extendedprice*(1-l_discount)")}) AS BIGINT) AS revenue_c,
         count(*) AS n_items
         FROM customer, orders, lineitem, nation
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
           AND l_returnflag = 'R' AND c_nationkey = n_nationkey
         GROUP BY c_custkey, c_name, n_name
         ORDER BY revenue_c DESC, c_custkey LIMIT 20"""),
    QuerySpec("q56_topk_custom", q56_topk_custom,
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3"""),
    QuerySpec("q57_frames", q57_frames,
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
         CAST(unnest(range(0, length(text), 7)) AS BIGINT) AS frame_no,
         CAST(length(text) AS BIGINT) AS n_bytes
         FROM documents"""),
    QuerySpec("q58_explode", q58_explode,
      """SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos, toks[u.i] AS token
         FROM (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents WHERE doc_id < 50) d,
              unnest(range(1, len(toks)+1)) AS u(i)"""),
    QuerySpec("q59_running_sum", q59_running_sum,
      s"""SELECT o_custkey, o_orderkey,
         CAST(sum(${centsSql("o_totalprice")}) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_c,
         CAST(max(${centsSql("o_totalprice")}) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS max3_c
         FROM orders WHERE o_custkey < 300"""),
    QuerySpec("q60_array_funcs", q60_array_funcs,
      """SELECT vec_id,
         CAST(len(embedding) AS BIGINT) AS dim,
         CAST(embedding[1] AS DOUBLE) AS first_v,
         CAST(list_min(embedding) AS DOUBLE) AS min_v,
         CAST(list_max(embedding) AS DOUBLE) AS max_v,
         CAST(list_sort(embedding)[3] AS DOUBLE) AS third_smallest
         FROM embeddings WHERE vec_id < 256"""),
    QuerySpec("q47_full_outer", q47_full_outer,
      s"""SELECT k,
         coalesce(${centsSql("c_acctbal")}, -1) AS acctbal_c,
         coalesce(n_ord, 0) AS n_ord
         FROM (SELECT c_custkey AS k, c_acctbal FROM customer WHERE c_custkey <= 100) a
         FULL OUTER JOIN
           (SELECT o_custkey AS k, count(*) AS n_ord FROM orders
            WHERE o_custkey >= 50 GROUP BY o_custkey) b
         USING (k)"""))

  /** What is wrong with a registry, one line per problem:
    *   - a repeated name (a later row would silently shadow the earlier
    *     one in [[all]]);
    *   - two names sharing a numeric prefix (the bench's compact stdout
    *     line keys by it, "q52_tpch_q3" -> "q52", so they would collide
    *     into one JSON key with last-writer-wins timings);
    *   - a stream-named row not marked `streaming` (one honest naming
    *     accident away from mixing the bench's two stabilization
    *     policies — tag it or rename it).
    */
  private[graft] def registryProblems(rows: Seq[QuerySpec]): Seq[String] = {
    val names = rows.map(_.name)
    val dupes = names.diff(names.distinct).distinct
      .map(n => s"query name registered twice: $n")
    val prefixes = names.distinct.groupBy(_.takeWhile(_ != '_'))
      .collect { case (p, ns) if ns.size > 1 =>
        s"numeric prefix $p shared by ${ns.sorted.mkString(", ")}" }
    val untagged = rows.collect { case q if q.name.contains("stream") && !q.streaming =>
      s"stream-named query not marked streaming: ${q.name}" }
    dupes ++ prefixes.toSeq.sorted ++ untagged
  }
  require(registryProblems(specs).isEmpty,
    s"query registry: ${registryProblems(specs).mkString("; ")}")

  val all: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.build).toMap
  val oracle: Map[String, String] = specs.map(q => q.name -> q.oracle).toMap
  val streamingQueries: Set[String] = specs.filter(_.streaming).map(_.name).toSet
}
