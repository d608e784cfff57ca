package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pass-level contention accounting (r10 verdict #2): the bench tail
  * must self-describe a loaded driver box — a calibration-normalized
  * total plus a contended flag against the committed history band —
  * instead of requiring next round's judge to divide by hand (r10's
  * driver pass read 197 s at calib 5.07; per-query it was r9-flat).
  */
class BenchGuardSpec extends AnyFunSuite {

  test("calib_norm_total scales the cold total to the pinned reference speed") {
    // the r10 driver tail replayed: 197.24 s at calib 5.07 normalizes
    // to ~116.7 s at the pinned 3.0 reference — BELOW r9's 157.1 at
    // 2.91 (norm ~162), i.e. the apparent 26% regression inverts once
    // machine speed is held constant, which is what the judge
    // adjudicated by hand
    val r10norm = Bench.calibNormTotal(197.24, 5.07)
    assert(math.abs(r10norm - 197.24 * 3.0 / 5.07) < 1e-9)
    val r9norm = Bench.calibNormTotal(157.11, 2.91)
    assert(r10norm < r9norm)
    // degenerate calib (probe crashed / zero): fall back to raw rather
    // than divide by zero or inflate to infinity
    assert(Bench.calibNormTotal(100.0, 0.0) == 100.0)
  }

  test("contended flag fires on the r10 driver pass and stays quiet on clean passes") {
    // r10 driver: calib 5.07 against the committed 3.2 builder pass
    assert(Bench.isContended(5.07, Some(3.2)))
    // clean round-over-round drift (r8 2.80 -> r9 2.91 -> r10 3.2)
    assert(!Bench.isContended(2.91, Some(2.80)))
    assert(!Bench.isContended(3.2, Some(2.91)))
    // no usable history: absolute band vs the pinned reference
    assert(Bench.isContended(5.07, None))
    assert(!Bench.isContended(3.5, None))
    // an errored/garbage committed calib must not make every future
    // pass read clean (or contended) by accident
    assert(Bench.isContended(5.07, Some(-1.0)))
  }

  test("warmEnginePaths completes and cleans its scratch (r11 cold-JIT gap)") {
    // q179 read 3.61 s cold / 1.47 s warm in the same r11 driver pass —
    // first-block parquet-write/footer/window warmup, not a plan issue.
    // The preamble must drive those paths over a throwaway table without
    // touching testdata and must not leave scratch behind for the pass.
    val spark = SharedSpark.spark
    val scratch = java.nio.file.Paths.get(graft.core.Scratch.scratch("bench-warm"))
    Bench.warmEnginePaths(spark)
    assert(!java.nio.file.Files.exists(scratch), s"warmup scratch left behind: $scratch")
    // idempotent: the bench calls it once, but a retry path must not trip
    // over the deleted dir
    Bench.warmEnginePaths(spark)
    assert(!java.nio.file.Files.exists(scratch), s"warmup scratch left behind: $scratch")
  }

  test("spikeBlocks detects adjacent 2x runs the 3x trigger misses (r12 hand adjudication)") {
    val hist = Map("qa" -> 1.0, "qb" -> 1.0, "qc" -> 1.0, "qd" -> 1.0,
      "qe" -> 1.0, "qf" -> 0.1, "qg" -> 1.0)
    // the r12 incident shape: several CONSECUTIVE queries at 2-3x their
    // committed cold, each below the single-query 3x re-run trigger
    val incident = Seq("qa" -> 2.5, "qb" -> 2.8, "qc" -> 2.2, "qd" -> 1.1)
    assert(Bench.spikeBlocks(incident, hist) === Seq(Seq("qa", "qb", "qc")))
    // two adjacent outliers are not a block (single-query jitter happens
    // in pairs often enough; three is the contention signature)
    assert(Bench.spikeBlocks(
      Seq("qa" -> 2.5, "qb" -> 2.8, "qc" -> 1.0, "qd" -> 2.9), hist).isEmpty)
    // an in-band eligible query BREAKS adjacency...
    assert(Bench.spikeBlocks(
      Seq("qa" -> 2.5, "qb" -> 1.0, "qc" -> 2.5, "qd" -> 2.5), hist).isEmpty)
    // ...but NEUTRAL entries do not: no-history (qx), sub-floor (qf at
    // 0.3 s, 3x its 0.1 s median but under the 0.5 s jitter floor), and
    // errored (-1) all pass through — a contention window inflates small
    // queries too, just below the reliable-signal threshold
    assert(Bench.spikeBlocks(
      Seq("qa" -> 2.5, "qx" -> 9.9, "qb" -> 2.8, "qf" -> 0.3,
        "qc" -> 2.2, "qe" -> -1.0, "qg" -> 1.0), hist)
      === Seq(Seq("qa", "qb", "qc")))
    // strict >: exactly 2x the median is in band
    assert(Bench.spikeBlocks(
      Seq("qa" -> 2.0, "qb" -> 2.5, "qc" -> 2.5, "qd" -> 2.5), hist)
      === Seq(Seq("qb", "qc", "qd")))
    // two separate windows come back as two blocks, pass order kept
    val twoBlocks = Seq("qa" -> 2.5, "qb" -> 2.5, "qc" -> 2.5, "qd" -> 1.0,
      "qe" -> 2.5, "qg" -> 2.5, "qa2" -> 9.9) ++ Seq("qb2" -> 0.1)
    val hist2 = hist ++ Map("qa2" -> 1.0, "qb2" -> 1.0)
    assert(Bench.spikeBlocks(twoBlocks, hist2)
      === Seq(Seq("qa", "qb", "qc"), Seq("qe", "qg", "qa2")))
    // empty pass / empty history: no blocks, no crash
    assert(Bench.spikeBlocks(Seq.empty, hist).isEmpty)
    assert(Bench.spikeBlocks(incident, Map.empty).isEmpty)
  }

  test("calibration v2: true median + intra-pass spread flag (r13 verdict #2)") {
    // true median — even counts average the middles, odd counts take it
    assert(Bench.median(Seq(1.53, 1.395, 1.568)) == 1.53)
    assert(Bench.median(Seq(2.0, 1.0)) == 1.5)
    assert(Bench.median(Seq.empty) == -1.0)
    // the r13 incident numbers: same-day legacy calib readings spread
    // 3.04–3.92 — as a v2 triple that is a 25% intra-pass spread and
    // MUST flag contended (the normalized ordering contradicted raw)
    assert(Bench.calibSpreadContended(Seq(3.04, 3.49, 3.92)))
    // the measured v2 triple on the quiet round-14 box: 11% spread, clean
    assert(!Bench.calibSpreadContended(Seq(1.53, 1.395, 1.568)))
    // a crashed probe (-1/0) is excluded, not treated as a zero reading;
    // a single surviving probe can never attest a spread
    assert(!Bench.calibSpreadContended(Seq(-1.0, 1.5, -1.0)))
    assert(Bench.calibSpreadContended(Seq(-1.0, 1.5, 2.5)))
    assert(!Bench.calibSpreadContended(Seq.empty))
  }

  test("calib_med_v2 excludes failure sentinels (ADVICE r14)") {
    // median of [-1, a, b] used to be min(a, b): biased low exactly on
    // runs with a probe hiccup, inflating calib_norm_total_v2
    assert(Bench.calibMedianV2(Seq(-1.0, 1.5, 1.6)) == 1.55)
    assert(Bench.calibMedianV2(Seq(1.38, 1.865, 1.644)) == 1.644)
    // no surviving probe: the -1 no-reading sentinel, not a crash
    assert(Bench.calibMedianV2(Seq(-1.0, -1.0, -1.0)) == -1.0)
    assert(Bench.calibMedianV2(Seq.empty) == -1.0)
  }

  test("contended is keyed off the v2 calibration (r14 verdict #2 / next-round #2)") {
    // the r14 DRIVER pass: [1.38, 1.865, 1.644] — 29.5% intra-pass
    // spread AND median 1.644 = 1.25x the 1.31 pin; the judge
    // adjudicated it contended by hand, the flag now says so itself
    assert(Bench.isContendedV2(Seq(1.38, 1.865, 1.644)) == Some(true))
    // the r14 quiet builder pass: 6% spread, median 1.265 — clean
    assert(Bench.isContendedV2(Seq(1.227, 1.265, 1.308)) == Some(false))
    // uniformly slow box (tight spread, median over the 1.25x pin):
    // the spread rule alone would miss it
    assert(Bench.isContendedV2(Seq(1.70, 1.71, 1.72)) == Some(true))
    // the judge's own r14 pass: early-window contention then settled —
    // the spread fires even though the median is in band
    assert(Bench.isContendedV2(Seq(2.30, 1.27, 1.33)) == Some(true))
    // failure sentinels are excluded, not read as fast probes
    assert(Bench.isContendedV2(Seq(-1.0, 1.27, 1.30)) == Some(false))
    // every probe failed: no v2 evidence — None, and the caller falls
    // back to the legacy flag with contended_by = "legacy-fallback"
    assert(Bench.isContendedV2(Seq(-1.0, -1.0, -1.0)).isEmpty)
    // the legacy 8.79 s cold-JVM outlier can NOT fire the v2 flag (it
    // was the legacy probe misreading a box whose v2 median was in
    // band — the exact case that retired the legacy calibration)
    assert(Bench.isContendedV2(Seq(1.33, 1.27, 1.30)) == Some(false))
  }

  test("warm-over-cold contention signature (measured r15 incident)") {
    // the incident pass: warm 295.00 over cold 273.23 while the v2
    // probes read in-band — the flag must fire on the totals alone
    assert(Bench.warmExceedsCold(273.23, 295.00))
    // every committed healthy pass sits well below (0.77–0.95)
    assert(!Bench.warmExceedsCold(220.72, 191.35))
    assert(!Bench.warmExceedsCold(237.74, 181.89))
    // the 5% margin absorbs small-sum noise (warm 0.25 vs cold 0.24)
    assert(!Bench.warmExceedsCold(0.24, 0.25))
    assert(Bench.warmExceedsCold(0.24, 0.26))
    // degenerate: an all-errored cold pass (sum 0) never fires
    assert(!Bench.warmExceedsCold(0.0, 10.0))
  }

  test("streaming challenge reruns: trigger policy (r14 verdict next-round #1a)") {
    // the r14 unrecovered case: q62 stream median 8.05 vs 3.85 quiet
    // reference = 2.09x — over the 2x trigger even on a quiet pass
    val ref = Map("q62" -> 3.85, "q63" -> 1.36, "q132" -> 3.69)
    val medians = Seq("q62" -> 8.05, "q63" -> 2.46, "q132" -> 3.80)
    assert(Bench.streamRerunCandidates(medians, ref, contended = false)
      == Seq("q62"))
    // a CONTENDED pass lowers the trigger to 1.5x: q63's 1.81x (which
    // dodges the flat 2x) is recovered exactly when it matters
    assert(Bench.streamRerunCandidates(medians, ref, contended = true)
      == Seq("q62", "q63"))
    // in-band medians never re-run (q132 at 1.03x), no reference means
    // no trigger (min-of-3 stands), sub-floor and errored medians are
    // never re-run
    assert(Bench.streamRerunCandidates(
      Seq("qnew" -> 9.9, "qtiny" -> 0.4, "qerr" -> -1.0),
      ref ++ Map("qtiny" -> 0.1, "qerr" -> 1.0), contended = true).isEmpty)
    // a garbage (non-positive) reference can not divide its way into a
    // trigger
    assert(Bench.streamRerunCandidates(Seq("qz" -> 5.0),
      Map("qz" -> 0.0), contended = false).isEmpty)
  }

  test("effective_total recovers a contended pass's headline (r14 verdict next-round #1b)") {
    val streamSet = Set("q62", "q63")
    // post-substitution cold times as Bench computes them: the batch
    // spike (q80 18.94 -> rerun 2.07, warm 2.10) already substituted;
    // streaming colds still raw (8.4 / 2.6 from the contended window)
    val coldTimes = Seq("q80" -> 2.10, "q62" -> 8.40, "q63" -> 2.60,
      "q01" -> 1.00, "qerr" -> -1.0)
    val medians = Map("q62" -> 8.05, "q63" -> 2.46)
    val reruns = Map("q62" -> 3.90) // post-pass challenge landed in band
    val eff = Bench.effectiveTimes(coldTimes, medians, reruns, streamSet).toMap
    assert(eff("q80") == 2.10, "batch keeps its substituted cold")
    assert(eff("q62") == 3.90, "stream takes min(median, challenge rerun)")
    assert(eff("q63") == 2.46, "stream without a rerun takes its min-of-3 median")
    assert(eff("q01") == 1.00)
    assert(eff("qerr") == -1.0, "errors stay errors")
    val total = eff.values.filter(_ >= 0).sum
    assert(math.abs(total - (2.10 + 3.90 + 2.46 + 1.00)) < 1e-9,
      "the headline sums the recovered values and skips errors")
    // raw cold total would have read 8.40 + 2.60 + ... — the synthetic
    // contended fixture: effective recovers 4.64 s of pure contention
    assert(total < coldTimes.collect { case (_, v) if v >= 0 => v }.sum)
    // a stream query whose EVERY stream sample errored falls back to
    // its cold entry (error accounting stays in one place)
    val eff2 = Bench.effectiveTimes(Seq("q62" -> -1.0), Map("q62" -> -1.0),
      Map.empty, streamSet).toMap
    assert(eff2("q62") == -1.0)
    // a rerun that itself errored (-1) must not replace a good median
    val eff3 = Bench.effectiveTimes(Seq("q62" -> 8.4), Map("q62" -> 8.05),
      Map("q62" -> -1.0), streamSet).toMap
    assert(eff3("q62") == 8.05)
  }

  test("ratio_vs_ref: per-query ratios off the committed quiet reference (r14 verdict next-round #3)") {
    val ref = Map("qa" -> 2.0, "qb" -> 1.0, "qz" -> 0.0)
    val eff = Seq("qa" -> 2.2, "qb" -> 3.0, "qc" -> 1.0, "qz" -> 5.0, "qe" -> -1.0)
    val ratios = Bench.ratiosVsRef(eff, ref).toMap
    assert(math.abs(ratios("qa") - 1.1) < 1e-9)
    assert(math.abs(ratios("qb") - 3.0) < 1e-9)
    assert(!ratios.contains("qc"), "no reference, no ratio")
    assert(!ratios.contains("qz"), "a zero reference can not divide")
    assert(!ratios.contains("qe"), "errored queries produce no ratio")
  }

  test("bench_ref refresh policy: only a quiet, error-free full pass moves the baseline") {
    assert(Bench.shouldUpdateRef(fullPass = true, contended = false,
      nErrors = 0, nWarmupErrors = 0))
    // the r14 driver pass (contended) must leave the reference alone —
    // otherwise one loaded box poisons every later ratio
    assert(!Bench.shouldUpdateRef(fullPass = true, contended = true,
      nErrors = 0, nWarmupErrors = 0))
    assert(!Bench.shouldUpdateRef(fullPass = false, contended = false,
      nErrors = 0, nWarmupErrors = 0))
    assert(!Bench.shouldUpdateRef(fullPass = true, contended = false,
      nErrors = 1, nWarmupErrors = 0))
    assert(!Bench.shouldUpdateRef(fullPass = true, contended = false,
      nErrors = 0, nWarmupErrors = 1))
    // the measured r15 incident: HOST-side I/O contention read v2-clean
    // (contended:false) while the pass carried ratio_vs_ref_median 1.27
    // with 27 queries >2x — the ratio evidence must block the refresh
    assert(!Bench.shouldUpdateRef(fullPass = true, contended = false,
      nErrors = 0, nWarmupErrors = 0, refExists = true,
      ratioMedian = 1.27, nRatioGt2 = 27, nRefCovered = 237))
    // either signal alone blocks: inflated median with few outliers,
    // and in-band median with an outlier pile
    assert(!Bench.shouldUpdateRef(fullPass = true, contended = false,
      nErrors = 0, nWarmupErrors = 0, refExists = true,
      ratioMedian = 1.20, nRatioGt2 = 0, nRefCovered = 237))
    assert(!Bench.shouldUpdateRef(fullPass = true, contended = false,
      nErrors = 0, nWarmupErrors = 0, refExists = true,
      ratioMedian = 1.00, nRatioGt2 = 8, nRefCovered = 237))
    // a quiet pass that agrees with the reference refreshes it (normal
    // round-over-round drift, a couple of jitter outliers allowed)
    assert(Bench.shouldUpdateRef(fullPass = true, contended = false,
      nErrors = 0, nWarmupErrors = 0, refExists = true,
      ratioMedian = 1.05, nRatioGt2 = 2, nRefCovered = 237))
    // bootstrap is a FILESYSTEM fact: no ref file — base conditions
    // suffice (there is nothing to poison)
    assert(Bench.shouldUpdateRef(fullPass = true, contended = false,
      nErrors = 0, nWarmupErrors = 0, refExists = false,
      ratioMedian = -1.0, nRatioGt2 = 0, nRefCovered = 0))
    // ...but an EXISTING ref that read as empty (torn file, renamed
    // surface — zero ratio coverage) must block, not bootstrap: an
    // ungated overwrite there is exactly the poisoning the gate
    // prevents (review r15)
    assert(!Bench.shouldUpdateRef(fullPass = true, contended = false,
      nErrors = 0, nWarmupErrors = 0, refExists = true,
      ratioMedian = -1.0, nRatioGt2 = 0, nRefCovered = 0))
  }

  test("warm-over-cold sums are like-for-like (ADVICE r15: asymmetric errors)") {
    // a query erroring ONLY in the cold pass (q62's 6 s missing from
    // cold, present in warm) used to read as "warm grew 6 s" and could
    // spuriously fire the contention flag...
    val cold = Seq("q01" -> 10.0, "q62" -> -1.0, "q03" -> 5.0)
    val warm = Seq("q01" -> 9.0, "q62" -> 6.0, "q03" -> 4.5)
    val (c1, w1) = Bench.likeForLikeTotals(cold, warm)
    assert(c1 == 15.0 && w1 == 13.5, "q62 must be excluded from BOTH sums")
    assert(!Bench.warmExceedsCold(c1, w1))
    // ...and a query erroring only in the WARM pass could mask a real
    // warm-over-cold signature by deleting its warm contribution
    val cold2 = Seq("q01" -> 10.0, "q62" -> 6.0)
    val warm2 = Seq("q01" -> 12.0, "q62" -> -1.0)
    val (c2, w2) = Bench.likeForLikeTotals(cold2, warm2)
    assert(c2 == 10.0 && w2 == 12.0)
    assert(Bench.warmExceedsCold(c2, w2),
      "the real q01 inflation must not be masked by q62's missing warm entry")
    // disjoint/empty inputs degrade to zero sums, never crash
    assert(Bench.likeForLikeTotals(Seq("a" -> 1.0), Seq("b" -> 1.0)) == ((0.0, 0.0)))
    assert(Bench.likeForLikeTotals(Seq.empty, Seq.empty) == ((0.0, 0.0)))
  }

  test("ref-refresh lineage ratchet: compounding upward drift is refused (r15 verdict #1)") {
    // the compounding scenario the agreement gate alone permits: each
    // pass is within 1.15x of the CURRENT ref, but four refreshes later
    // the baseline sits 1.52x the best-ever — the ratchet stops the
    // chain at the first refresh past 1.25x of the best anchor
    val best = Some(178.79) // the r15 closing pass
    assert(Bench.refRatchetAllows(205.0, best), "1.147x best: allowed")
    assert(Bench.refRatchetAllows(223.4, best), "1.249x best: allowed")
    assert(!Bench.refRatchetAllows(224.0, best), "1.253x best: refused by the ratchet")
    assert(!Bench.refRatchetAllows(272.0, best), "the compounded 1.52x can never land")
    // faster-than-best always lands (the ratchet only resists the slow
    // direction — r15 converged DOWN and re-pinned the floor)
    assert(Bench.refRatchetAllows(150.0, best))
    // bootstrap: no lineage yet -> allowed; garbage anchors are ignored
    assert(Bench.refRatchetAllows(500.0, None))
    assert(Bench.refRatchetAllows(500.0, Some(-1.0)))
    // a non-positive total is never acceptable evidence
    assert(!Bench.refRatchetAllows(0.0, None))
    assert(!Bench.refRatchetAllows(-1.0, best))
  }

  test("lineage best-ever anchor: accepted same-sf rows only, garbage-tolerant") {
    val lines = Seq(
      """{"ts":"2026-08-16T00:00:00Z","sf":"/root/testdata/sf0.1","effective_total":178.79,"accepted":true}""",
      """{"ts":"2026-08-16T01:00:00Z","sf":"/root/testdata/sf0.1","effective_total":205.1,"accepted":true}""",
      // refused rows are drift TRACE, never anchor
      """{"sf":"/root/testdata/sf0.1","effective_total":100.0,"accepted":false}""",
      // other-sf rows never anchor this sf
      """{"sf":"/tmp/graft-sf1","effective_total":50.0,"accepted":true}""",
      // garbage lines are skipped, not fatal
      """not json at all""",
      """{"sf":"/root/testdata/sf0.1","effective_total":-3.0,"accepted":true}""")
    assert(Bench.bestEverQuietTotal(lines, "/root/testdata/sf0.1") == Some(178.79))
    assert(Bench.bestEverQuietTotal(lines, "/tmp/graft-sf1") == Some(50.0))
    assert(Bench.bestEverQuietTotal(lines, "/none").isEmpty)
    assert(Bench.bestEverQuietTotal(Seq.empty, "/root/testdata/sf0.1").isEmpty)
  }

  test("spike-evidence contended contributor replays the r16 driver pass (r16 verdict #2)") {
    // The r16 driver pass shipped contended:false (v2 median 1.38, near
    // the 1.31 pin) while its own challenge machinery recorded 9 batch
    // reruns and 1+6 spike blocks; 7 queries read >2x the quiet
    // reference. Replay its committed detail numbers (BENCH_r16.json):
    val r16Reruns = Seq(        // (first, second) per challenge rerun
      (1.14, 0.58), (13.57, 3.50), (10.38, 1.87), (12.10, 1.19),
      (8.11, 0.62), (23.86, 3.03), (14.14, 3.58), (11.27, 16.37),
      (21.59, 50.68))
    val deltas = r16Reruns.map { case (a, b) => a - math.min(a, b) }
    // raw (pre-substitution) cold total = substituted cold_total 274.48
    // plus the spike seconds the substitutions removed
    val rawCold = 274.48 + deltas.filter(_ > 0).sum
    // fires on EITHER prong independently
    assert(Bench.spikeEvidenceContended(deltas, rawCold, 1, 6),
      "the r16 driver pass must flag on its own in-pass evidence")
    assert(Bench.spikeEvidenceContended(deltas, rawCold, 0, 0),
      "the ~20% rerun-delta share alone fires the flag")
    assert(Bench.spikeEvidenceContended(Seq.empty, rawCold, 1, 6),
      "1 cold + 6 warm spike blocks alone fire the flag")
    // a quiet pass (zero reruns, zero blocks — e.g. the r16 quiet
    // closing pass: eff 185.41, n_reruns 0, zero spike blocks) is silent
    assert(!Bench.spikeEvidenceContended(Seq.empty, 185.41, 0, 0))
    // small rerun noise below the delta fraction does not fire
    assert(!Bench.spikeEvidenceContended(Seq(0.56, 1.2), 200.0, 1, 2))
    // negative deltas (rerun slower than first reading, like r16's
    // q177/q232 entries) contribute nothing
    assert(!Bench.spikeEvidenceContended(Seq(-29.1, -5.1, 0.5), 200.0, 0, 3))
    // an all-errored pass (rawColdTotal 0) cannot fire the ratio prong
    assert(!Bench.spikeEvidenceContended(Seq(1.0), 0.0, 0, 0))
  }

  test("streaming policy keys off the explicit registry, not a name substring (r13 verdict #7)") {
    val reg = Queries.streamingQueries
    // the registry names only live queries, and today covers exactly the
    // stream-named surface (the consistency Queries.registryProblems enforces)
    assert(reg.subsetOf(Queries.all.keySet))
    assert(Queries.all.keySet.filter(_.contains("stream")) == reg)
    // the HOSTILE-NAME case: membership is set membership — a streaming
    // query named without "stream" would still get the stream policy
    // once registered, and a batch query named WITH "stream" trips the
    // registry's fail-loud check instead of silently mixing policies
    // (QueryRegistrySpec feeds it such a row). Replicate the check's
    // predicate here against a hostile name:
    val hostileBatch = "q999_streaming_lookalike_batch"
    assert(hostileBatch.contains("stream") && !reg(hostileBatch),
      "a stream-named non-member must be caught by the tripwire predicate")
    val hostileStream = "q998_quiet_sessionizer"
    assert(!hostileStream.contains("stream"),
      "registry membership, not the name, is what grants the stream policy")
  }
}
