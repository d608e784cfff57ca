package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthetic N× scale probe for the heaviest iterative/stateful
  * operators (SCALE.md §Scale-probe): no sf1 testdata exists, so this
  * re-keys self-unions of the sf0.1 tables into a ~N× corpus and times
  * the operators whose 100 TB posture rests on iteration/state/buffer
  * arguments — checking wall time scales ~linearly and no plan flips to
  * a broadcast-OOM or single-reducer shape at the step-up.
  *
  *   sbt -batch "runMain graft.ScaleProbe 1"    # baseline, same builder
  *   sbt -batch "runMain graft.ScaleProbe 10"   # the 10x step
  *
  * Scaling semantics (documented, deliberate): document copies get
  * fresh doc_ids AND a per-copy alphabet rotation over the text
  * (length-preserving bijection) — so the distinct vocabulary, shingle
  * space, and signature buckets all genuinely grow ~×N instead of
  * collapsing into N-deep duplicate cliques, while blocking keys
  * (source, lang, n_chars) keep their group structure so CC/PageRank
  * edges grow exactly ×N. events re-key both event_id and user_id per
  * copy, so per-user stream-join density stays constant and state
  * volume grows ×N.
  *
  * The alphabet rotation CLOSES at 26 copies, so beyond that tier
  * vocabulary-driven workloads saturate (fixed distinct vocab, N-deep
  * duplicate cliques). `GRAFT_SCALE_VOCAB=1` switches documents to a
  * per-copy token-suffix transform whose distinct vocabulary genuinely
  * grows ~×N at every tier — the honest growth semantics for
  * q110/q144/minhash-class ops (r13 verdict #5; see the inline note
  * for the ≥3-edit suffix construction).
  */
object ScaleProbe {
  private val Offset = 1000000000L

  def main(args: Array[String]): Unit = {
    val copies = args.headOption.map(_.toInt).getOrElse(10)
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // GRAFT_SCALE_VOCAB=1 (r13 verdict #5): documents get a per-copy
    // TOKEN SUFFIX instead of the alphabet rotation. The rotation is a
    // bijection over 26 letters, so it closes at 26 copies — beyond
    // that, vocabulary-driven workloads (q110 fuzzy join's token sets,
    // q144's vocab encode, minhash shingle space) measure a FIXED
    // working set with N-deep duplicate cliques, i.e. the probe
    // saturates and stops exercising growth. Suffixing every token
    // with the copy index ("table" -> "tablev7") makes the distinct
    // vocabulary genuinely scale ~xN at every tier (Heap's-law-style
    // growth), preserves within-copy near-dup structure, and keeps
    // copies disjoint. Value-parsed like the other levers.
    val vocabMode = sys.env.get("GRAFT_SCALE_VOCAB") match {
      case None | Some("0") | Some("false") | Some("") => false
      case Some("1") | Some("true") => true
      case Some(other) => throw new IllegalArgumentException(
        s"GRAFT_SCALE_VOCAB must be 1/true or 0/false, got '$other'")
    }
    // v2: re-keyed custkeys + scaled lineitem (stale v1 dirs lack both);
    // vocab-mode tapes live in their own dirs (different text content)
    val dir = s"/tmp/graft-scaleprobe-${copies}x-v2" +
      (if (vocabMode) "-vocab" else "")
    val spark = graft.core.Catalog.newSession()
    // GRAFT_SCALE_SHUFFLE: shuffle-partition override for the
    // partitions-scale-with-data demonstrations (a cluster raises
    // this with the corpus; local probes pin it to the core count
    // unless a residual needs the lever isolated — e.g. the q187
    // 300x per-task memory-pressure A/B, SCALE.md §Round-13 cont.)
    sys.env.get("GRAFT_SCALE_SHUFFLE").foreach(n =>
      spark.conf.set("spark.sql.shuffle.partitions", n))
    spark.range(1000000).selectExpr("sum(id)").collect() // warm the session

    // Pass-level contention self-flagging (r15 verdict next-round #7):
    // the measurement protocol discarded ambient-inflated probe passes
    // BY HAND (r15's vocab probe m3 ran ~1.6x across every reading) —
    // the probe now brackets its own run with the same v2 calibration
    // Bench uses and emits a calib row per pass, so a contended probe
    // pass flags itself in the output the knee table is built from.
    // Single-pass runs have no warm/cold split, so the signals are the
    // v2 median vs the pin and the start-vs-end spread (the box's speed
    // CHANGED mid-run — per-op timings are then not mutually
    // comparable). ADVISORY: rows still print; "contended":true means
    // re-measure per the protocol, not that the numbers are discarded.
    def calibSafe(): Double =
      try Bench.calibProbeV2(spark)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[scaleprobe] calib v2 probe failed (recorded -1): $e")
          -1.0
      }
    val calibStart = calibSafe()
    def emitCalibRow(probes: Seq[Double], when: String): Unit = {
      val med = Bench.calibMedianV2(probes)
      val contended = Bench.isContendedV2(probes).getOrElse(false)
      val probesJson = probes.map(v =>
        "%.3f".formatLocal(java.util.Locale.ROOT, v)).mkString("[", ",", "]")
      println(f"""[scaleprobe] {"op":"calib_v2_$when%s","copies":$copies,"probes":$probesJson%s,"median":$med%.3f,"pin":${Bench.ReferenceCalibV2Sec},"ratio_vs_pin":${if (med > 0) med / Bench.ReferenceCalibV2Sec else -1.0}%.3f,"contended":$contended}""")
    }
    emitCalibRow(Seq(calibStart), "start")

    // GRAFT_SCALE_TABLES: comma-list restricting which tables get
    // staged (default: all five). At high tiers the full set is most
    // of the disk — the 1000x lineitem tape alone is ~30 GB, and
    // staging it for a documents-only probe ATE THE SPILL HEADROOM the
    // probed op needed (measured: the adaptive containment 1000x run
    // DNF'd on disk with the full tape set staged, completed with
    // documents-only staging — SCALE.md §Round-13 cont.). The caller
    // owns the list; an op reading an unstaged table fails on read,
    // loudly, at its own probe row.
    // value-validated like the other probe levers: an empty or
    // comma-only value would parse to Some(empty set) and silently
    // stage NOTHING — every probe row would then fail on read and
    // print as a wall of fake DNFs indistinguishable from real
    // spill-aborts. A set value must name at least one table.
    val stageTables = sys.env.get("GRAFT_SCALE_TABLES")
      .map { raw =>
        val s = raw.split(",").map(_.trim).filter(_.nonEmpty).toSet
        require(s.nonEmpty,
          s"GRAFT_SCALE_TABLES is set but names no tables ('$raw') — " +
            "unset it to stage all tables, or list at least one")
        s
      }
    def scaled(name: String, reKey: (DataFrame, Int) => DataFrame): Unit = {
      if (!stageTables.forall(_.contains(name))) return
      val path = s"$dir/$name.parquet"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/_SUCCESS"))) {
        val base = graft.core.Catalog.table(spark, baseDir, name)
        (0 until copies).map(i => reKey(base, i)).reduce(_ unionByName _)
          .repartition(32).write.mode("overwrite").parquet(path)
      }
    }
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    scaled("documents", (df, i) => {
      val keyed = df.withColumn("doc_id", col("doc_id") + lit(i * Offset))
      if (vocabMode) {
        // copy 0 stays the base corpus (1x tape == base identity);
        // every other copy suffixes each token with its copy index,
        // each digit TRIPLED ("table" -> "tablev777" in copy 7):
        // any two distinct copies' suffixes then differ by >= 3 edits,
        // so q110's maxDist=2 edit-distance join can never match a
        // word to its own cross-copy variants — a bare "v7"/"v9"
        // suffix would have re-created the N-deep near-dup cliques
        // this mode exists to remove (distance("v7","v9") = 1)
        val suf = "v" + i.toString.flatMap(c => s"$c$c$c")
        keyed.withColumn("text",
          if (i == 0) col("text")
          else regexp_replace(col("text"), "(\\S+)", s"$$1$suf"))
      } else keyed.withColumn("text",
        translate(col("text"), alpha, alpha.drop(i % 26) + alpha.take(i % 26)))
    })
    scaled("events", (df, i) => df
      .withColumn("event_id", col("event_id") + lit(i * Offset))
      // SmallOffset keeps copies disjoint (user ids << 1e7) and matches
      // GenScale's FK-consistent re-key of user_id vs custkeys
      .withColumn("user_id", col("user_id") + lit(i * 10000000L))
      // Catalog.table("events") expects the testdata layout (raw ns
      // longs it converts to µs timestamps); write ts back as ns longs
      .withColumn("ts", expr("unix_micros(ts) * 1000")))
    // orders: fresh keys per copy, priorities unchanged — the 5 percentile
    // GROUPS stay fixed while each group's value count grows ×N, which is
    // exactly what stresses q131's exact-percentile buffers. custkeys
    // re-key per copy so the graph ops below scale as N disjoint copies
    // (edges ×N) instead of densifying shared nodes ×N.
    scaled("orders", (df, i) => df
      .withColumn("o_orderkey", col("o_orderkey") + lit(i * Offset))
      .withColumn("o_custkey", col("o_custkey") + lit(i * 10000000L)))
    // lineitem: orderkeys track orders; supp/part keys re-key per copy —
    // the co-occurrence graphs (q176 triangles, q192 HITS, q187 rules)
    // grow ×N in nodes AND edges with per-copy structure preserved
    scaled("lineitem", (df, i) => df
      .withColumn("l_orderkey", col("l_orderkey") + lit(i * Offset))
      .withColumn("l_suppkey", col("l_suppkey") + lit(i * 10000000L))
      .withColumn("l_partkey", col("l_partkey") + lit(i * 10000000L)))
    // embeddings: fresh vec_ids per copy; each copy's vectors are a
    // cyclic rotation of the base (length- and norm-preserving, so the
    // corpus genuinely grows in distinct vectors and IVF cells rather
    // than stacking N-deep duplicates). Rotation alone is periodic at
    // dim=64, so copies 64+ negate the rotated vector (also
    // norm-preserving, and a negated vector can never equal a rotation
    // of a non-degenerate base) — distinct transforms through 128
    // copies, which covers the 100x knee tier: at the ONE tier the
    // probe exists to measure, a bare i%64 wrap made 36 of 100 copies
    // byte-identical duplicates of the first 36, re-introducing the
    // similarity-tie class GenScale's rotation fix documents. q122's
    // fixed query set (vec_id < 16) stays the base copy's — a constant
    // query set over a growing corpus, the honest ANN scaling shape.
    scaled("embeddings", (df, i) => {
      val r = i % 64
      val rotated =
        if (r == 0) "embedding"
        else s"concat(slice(embedding, ${r + 1}, 64 - $r), slice(embedding, 1, $r))"
      val sql =
        if ((i / 64) % 2 == 1) s"transform($rotated, x -> -x)" else rotated
      df.withColumn("vec_id", col("vec_id") + lit(i * Offset))
        .withColumn("embedding", expr(sql))
    })

    // GRAFT_SCALE_ONLY=mad_q131,... times just those ops (local iteration)
    val only = sys.env.get("GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // After a VirtualMachineError (driver OOM, internal error) the JVM is
    // in an undefined state — timings recorded by LATER probes in the
    // same run could be garbage while printing as clean rows. Every row
    // after such an error carries "suspect":true so the knee table can
    // discard it; the expected DNF mode (executor-side disk-full /
    // spill-abort surfaces as a NonFatal SparkException on the driver)
    // stays a plain dnf row.
    var vmErrorSeen: Option[String] = None
    def time(name: String)(f: => Long): Unit = {
      if (only.forall(_.contains(name))) {
        val t0 = System.nanoTime()
        val suspect = vmErrorSeen.map(c => s""","suspect":true,"after_vm_error":"$c"""").getOrElse("")
        // one probe's failure (the known mode: uncapped containment fills
        // the disk with shuffle spill at 100x) must not abort the run —
        // the knee table needs the probes AFTER it; record a DNF row
        try {
          val rows = f
          println(f"""[scaleprobe] {"op":"$name","copies":$copies,"sec":${(System.nanoTime() - t0) / 1e9}%.2f,"rows":$rows$suspect%s}""")
        } catch {
          case e: VirtualMachineError =>
            // driver-side OOM etc.: record the DNF, then taint the rest
            // of the run rather than silently continuing as if clean
            vmErrorSeen = Some(e.getClass.getSimpleName)
            println(f"""[scaleprobe] {"op":"$name","copies":$copies,"sec":${(System.nanoTime() - t0) / 1e9}%.2f,"rows":-1,"dnf":"${e.getClass.getSimpleName}"$suspect%s}""")
          case scala.util.control.NonFatal(e) =>
            println(f"""[scaleprobe] {"op":"$name","copies":$copies,"sec":${(System.nanoTime() - t0) / 1e9}%.2f,"rows":-1,"dnf":"${e.getClass.getSimpleName}"$suspect%s}""")
          case e: InterruptedException =>
            // an external CANCEL, not a probe failure: swallowing it
            // (InterruptedException is excluded from NonFatal) converted
            // a kill/timeout into a tainted-but-running sweep that kept
            // burning the box it was asked to vacate. Re-assert the
            // interrupt flag for the caller/runner and abort the run.
            Thread.currentThread().interrupt()
            println(f"""[scaleprobe] {"op":"$name","copies":$copies,"sec":${(System.nanoTime() - t0) / 1e9}%.2f,"rows":-1,"dnf":"InterruptedException","aborted":true}""")
            throw e
          case e: Throwable =>
            // fatal-but-not-VME (LinkageError): the run-must-continue
            // invariant above still holds — the knee table needs the
            // LATER probes — but like a VME the JVM's health is no
            // longer assured, so record the DNF and taint the remaining
            // rows rather than abort or print clean
            vmErrorSeen = Some(e.getClass.getSimpleName)
            println(f"""[scaleprobe] {"op":"$name","copies":$copies,"sec":${(System.nanoTime() - t0) / 1e9}%.2f,"rows":-1,"dnf":"${e.getClass.getSimpleName}"$suspect%s}""")
        }
      }
    }

    // lazy: only the minhash row reads it directly — an eager read here
    // crashed the WHOLE run (before any probe row printed) when
    // GRAFT_SCALE_TABLES staged a documents-less subset for an
    // events-only probe
    lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
    time("cc_q98") { Queries.q98_dup_clusters(spark, dir).count() }
    time("tfidf_q123") { Queries.q123_tfidf(spark, dir).count() }
    time("pagerank_q113") { Queries.q113_pagerank(spark, dir).count() }
    time("minhash_candidates") {
      graft.operators.Dedup.minHashCandidates(docs, "doc_id", "text",
        numHashes = 64, bands = 32, shingleWidth = 3).count()
    }
    time("fuzzy_join_q110") { Queries.q110_fuzzy_join(spark, dir).count() }
    time("mad_q131") { Queries.q131_mad_outliers(spark, dir).count() }
    time("stream_join_q62") { Queries.q62_stream_join(spark, dir).count() }
    // round-7 block: map-only span corruption should scale embarrassingly
    // (zero shuffles); drift/vocab-encode ride one token agg; cosine
    // pairs' overlay grows pairs exactly ×N; the CDC merge loop's state
    // grows ×N users
    time("span_corrupt_q141") { Queries.q141_span_corrupt(spark, dir).count() }
    time("unigram_drift_q142") { Queries.q142_unigram_drift(spark, dir).count() }
    time("vocab_encode_q144") { Queries.q144_vocab_encode(spark, dir).count() }
    time("cosine_pairs_q147") { Queries.q147_cosine_pairs(spark, dir).count() }
    time("cdc_merge_q148") { Queries.q148_stream_cdc_merge(spark, dir).count() }
    time("interval_join_q145") { Queries.q145_interval_overlap(spark, dir).count() }
    time("table_diff_q150") { Queries.q150_table_diff(spark, dir).count() }
    // round-7 second block: per-copy re-keyed graphs scale edges ×N with
    // constant per-copy density (the honest corpus-growth semantics)
    time("triangles_q176") { Queries.q176_triangles(spark, dir).count() }
    time("hits_q192") { Queries.q192_hits(spark, dir).count() }
    time("assoc_q187") { Queries.q187_assoc_rules(spark, dir).count() }
    time("attribution_q181") { Queries.q181_attribution(spark, dir).count() }
    time("pmi_q177") { Queries.q177_pmi_bigrams(spark, dir).count() }
    time("rank_normalize_q185") { Queries.q185_rank_normalize(spark, dir).count() }
    // round-9 knee block: the operators carrying the engine's worst-case
    // constants, probed past the 10x step (30x-100x) to LOCATE the knee
    // instead of extrapolating it. containment_capped runs the same join
    // with the maxDf posting cap at a value that is recall-lossless at
    // the base SF (sf0.1 max shingle df = 25; pairs lost at cap 12 = 0,
    // measured) — the pair demonstrates how much knee the cap buys.
    // capped FIRST: the uncapped probe is the one with a known DNF mode
    // at 100x (disk-filling candidate spill) — the comparison rows must
    // already be on record before it runs
    // GRAFT_CONTAINMENT_CAP overrides the cap (default 12, the r9
    // measured-safe setting) — used to measure the fan-out probe's OWN
    // recommendation at the scale that recommended it. Parsed OUTSIDE
    // the guarded probe block: a typo'd value is a config error and
    // must abort the run, not print as a fake DNF row that the knee
    // table can't tell from a real spill-abort measurement.
    val containmentCap =
      sys.env.get("GRAFT_CONTAINMENT_CAP").map(_.toLong).getOrElse(12L)
    time("containment_capped") {
      val cap = containmentCap
      graft.operators.Dedup.containmentPairs(
        graft.core.Catalog.table(spark, dir, "documents"), "doc_id", "text",
        shingleWidth = 3, num = 3, den = 5, maxDf = Some(cap)).count()
    }
    // the fan-out probe FIRST at each scale: its recommendation (derived
    // from the df distribution alone, blocking stages only — safe where
    // the uncapped join DNFs) is the in-code form of "set maxDf to the
    // knee-side"; the row records what it would have said at this scale
    time("fanout_probe") {
      val p = graft.operators.Dedup.containmentFanout(
        graft.core.Catalog.table(spark, dir, "documents"), "doc_id", "text",
        shingleWidth = 3, num = 3, den = 5)
      println(s"""[scaleprobe] {"op":"fanout_probe_detail","copies":$copies,"n_docs":${p.nDocs},"vocab":${p.vocab},"max_df":${p.maxShingleDf},"uncapped_candidates":${p.uncappedCandidates},"hazard":${p.uncappedHazard},"recommended_max_df":${p.recommendedMaxDf.getOrElse(-1L)}}""")
      p.uncappedCandidates
    }
    time("winnowing_pairs_q138") { Queries.q138_winnowing_pairs(spark, dir).count() }
    time("canonical_q109") { Queries.q109_canonical_pick(spark, dir).count() }
    // round-10 knee block (last unmeasured heavy tier): bucketed WRITE
    // path, ANN-recall certification (brute force + IVF over the scaled
    // corpus with the fixed base query set), stream session timeouts
    // (the eviction-path stateful op), z-order write + skip roundtrip
    time("bucketed_join_q107") { Queries.q107_bucketed_join(spark, dir).count() }
    time("ann_recall_q122") { Queries.q122_ann_recall(spark, dir).count() }
    // bounded probe sink (r13 verdict #6): the memory sink's driver
    // collect was the 300x envelope (28.6 M emitted sessions), not the
    // operator — the probe row now measures sessionize + timeout with
    // one aggregate row per batch reaching the driver; the xor
    // fingerprint rides a detail line for cross-run comparison
    time("stream_session_q127") {
      val (n, h) = Queries.q127_probe(spark, dir)
      println(s"""[scaleprobe] {"op":"stream_session_q127_fingerprint","copies":$copies,"rows":$n,"xor":"${java.lang.Long.toHexString(h)}"}""")
      n
    }
    time("zorder_q94") { Queries.q94_zorder_roundtrip(spark, dir).count() }
    time("containment_q231") { Queries.q231_containment_join(spark, dir).count() }
    // end-of-run calib: the PAIR adjudicates the whole pass (median vs
    // pin + start-to-end spread); the start row alone cannot see a
    // mid-run speed change
    emitCalibRow(Seq(calibStart, calibSafe()), "pass")
    spark.stop()
  }
}
