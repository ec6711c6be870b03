package graft

import graft.kernel.SparkSpec

/** Test-the-test for the ×10 scale gate (round-7 verdict item #3): the
  * ratcheted per-query bounds must actually FAIL on the regression the
  * blanket `1.2 × Copies` bound waved through. Pure-function checks —
  * the full gate run lives in `runMain graft.ScaleSmoke`. */
class ScaleSmokeSpec extends SparkSpec {

  test("an injected superlinear regression fails the ratcheted gate") {
    // the round-6 verdict's concrete example: d03 recorded 4.8×; a drift
    // to 11× is a real quadratic-ish regression and must now trip
    assert(ScaleSmoke.ratioViolation("d03_dedup_minhash", 11.0).isDefined,
      "d03 at 11× passed the gate — the ratchet is not biting")
    // every recorded ratio (the committed quiet-run history) still passes
    val recorded = Map(
      "q22_kernel_full" -> 1.395, "q21_rule_match" -> 1.707,
      "d02_dedup_ngram" -> 3.167, "d03_dedup_minhash" -> 4.810,
      "d07_dedup_keeper" -> 3.239, "c01_corpus_clean" -> 2.600,
      "q29_moving_agg" -> 2.086, "q15_sessionize" -> 1.650)
    recorded.foreach { case (n, r) =>
      assert(ScaleSmoke.ratioViolation(n, r).isEmpty, s"$n at its recorded $r× fails its own bound")
    }
    // round-7 entries are ratcheted from their first committed run
    // (1.614 / 1.244 → floor 3.0)
    assert(ScaleSmoke.ratioViolation("d12_keeper_star_deep", 2.9).isEmpty)
    assert(ScaleSmoke.ratioViolation("d12_keeper_star_deep", 3.1).isDefined)
    assert(ScaleSmoke.ratioViolation("e1_write_month", 3.1).isDefined)
    assert(ScaleSmoke.ratioViolation("s02_ann_lsh", 3.1).isDefined)
    // round-8 entry: q40 ratcheted from its first committed quiet run
    // (2.274 × 1.5 = 3.41)
    assert(ScaleSmoke.ratioViolation("q40_rule_match_shuffle", 3.3).isEmpty)
    assert(ScaleSmoke.ratioViolation("q40_rule_match_shuffle", 3.5).isDefined)
    // unknown queries (no history) fall back to the blanket linear bound
    assert(ScaleSmoke.ratioViolation("not_a_gate_query", 11.9).isEmpty)
    assert(ScaleSmoke.ratioViolation("not_a_gate_query", 12.1).isDefined)
    // round-11 entry: d16 ratcheted from its first two gate runs
    // (5.35 / 3.61 → bound 8.03)
    assert(ScaleSmoke.ratioViolation("d16_incremental_neardup", 7.9).isEmpty)
    assert(ScaleSmoke.ratioViolation("d16_incremental_neardup", 8.1).isDefined)
  }

  test("streaming two-statistic rule: a floored-ratio burst is waived, a real regression is not") {
    // the observed contamination shape: floored ratio 6.6 off a 0.23 s
    // denominator while the raw per-side minima read 1.59 (quiet raw
    // history 1.25/1.28) — waived, recorded as <q>_ratio_suspect
    assert(ScaleSmoke.streamingViolationWaived(1.59),
      "quiet-raw contamination must be waived")
    // a genuine state-store blowup inflates the raw ratio too — not waived
    assert(!ScaleSmoke.streamingViolationWaived(2.5),
      "a raw-ratio regression must NOT be waived")
    // no raw observation (floor machinery absent) — never waived
    assert(!ScaleSmoke.streamingViolationWaived(-1.0))
    // ADVICE r11 #3: the waiver also demands the floored scale-side data
    // time stay inside its absolute envelope — a several-fold data-time
    // regression can keep the raw ratio under 2.0 indefinitely in the
    // floor-dominated regime, and must NOT ride the waiver
    assert(ScaleSmoke.streamingWaiverAllows(1.59, 1.2))
    assert(!ScaleSmoke.streamingWaiverAllows(1.59, 6.0),
      "a floored scale-side regression must NOT be waived")
  }

  test("x100 absolute scale-side bounds: real growth fails, base-side spread downgrades") {
    // ADVICE r11 #2, the MinHash family: the scale side is the stable
    // statistic, so (a) exceeding the recorded absolute bound is a
    // violation even when a deflated base keeps the ratio green...
    assert(ScaleSmoke.absScale100Violation("d07_dedup_keeper", 120.0, 100).nonEmpty)
    assert(ScaleSmoke.absScale100Violation("d07_dedup_keeper", 60.0, 100).isEmpty)
    // ...(b) a RATIO violation downgrades to a recorded suspect only when
    // BOTH statistics say base-side spread (ADVICE r12): scale side inside
    // its absolute envelope AND base below its quiet minimum (deflated)...
    assert(ScaleSmoke.absScale100Downgrades("d03_dedup_minhash", 25.0, 0.7, 100))
    assert(!ScaleSmoke.absScale100Downgrades("d03_dedup_minhash", 40.0, 0.7, 100),
      "scale side above its envelope must not downgrade")
    assert(!ScaleSmoke.absScale100Downgrades("d03_dedup_minhash", 25.0, 1.3, 100),
      "a NORMAL base with an in-envelope scale side is a real <=1.5x scale " +
        "regression and must stay fatal (ADVICE r12)")
    // ...(c) neither applies outside x100 or to unrecorded queries
    assert(ScaleSmoke.absScale100Violation("d07_dedup_keeper", 120.0, 10).isEmpty)
    assert(!ScaleSmoke.absScale100Downgrades("q22_kernel_full", 1.0, 0.1, 100))
  }

  test("flat-occupancy gauges fail only past 3x a base floored at 1") {
    assert(ScaleSmoke.occupancyViolation("s02 candidates/probe", 40.0, 119.0, "lost").isEmpty)
    assert(ScaleSmoke.occupancyViolation("s02 candidates/probe", 40.0, 121.0, "lost")
      .exists(_.startsWith("s02 candidates/probe grew to 121.0")))
    // a near-empty base cannot make any small scale-side reading a violation
    assert(ScaleSmoke.occupancyViolation("gauge", 0.1, 2.9, "lost").isEmpty)
    assert(ScaleSmoke.occupancyViolation("gauge", 0.1, 3.1, "lost").nonEmpty)
  }

  test("gate retry absorbs a transient burst but cannot mask a real regression") {
    // q15 bound is 3.0. Transient: the first scale run is a 10× steal
    // burst, the retry is quiet — the kept pair must be the quiet one and
    // the gate passes with retries=1.
    val burstScale = Iterator((3.2, 500L), (0.4, 0L))
    val (t1a, t10a, stealA, triesA) =
      ScaleSmoke.measureWithRetry("q15_sessionize", 2)(
        () => (0.3, 0L), () => burstScale.next())
    assert(triesA == 1 && t10a == 0.4 && t1a == 0.3 && stealA == 0L,
      s"quiet retry not kept: ($t1a, $t10a, $stealA, $triesA)")
    assert(ScaleSmoke.ratioViolation("q15_sessionize", t10a / t1a).isEmpty)

    // persistent: a real superlinear regression reproduces on every retry
    // and must still fail after the budget is spent
    val (t1b, t10b, _, triesB) =
      ScaleSmoke.measureWithRetry("q15_sessionize", 2)(
        () => (0.3, 0L), () => (3.2, 0L))
    assert(triesB == 2, "retry budget not spent on a persistent regression")
    assert(ScaleSmoke.ratioViolation("q15_sessionize", t10b / t1b).isDefined,
      "a reproducing superlinear regression slipped through the retry")

    // anti-masking: when a retry fires, a quieter BASE run replaces the
    // contaminated one even though that makes the ratio LARGER (min per
    // side, not min ratio)
    val burstBase = Iterator((0.6, 400L), (0.3, 0L))
    val scaleSide = Iterator((3.2, 0L), (3.1, 0L))
    val (t1c, t10c, _, _) =
      ScaleSmoke.measureWithRetry("q15_sessionize", 1)(
        () => burstBase.next(), () => scaleSide.next())
    assert(t1c == 0.3 && t10c == 3.1, s"per-side minima not kept: ($t1c, $t10c)")
    assert(ScaleSmoke.ratioViolation("q15_sessionize", t10c / t1c).isDefined)
  }

  test("minOf takes per-side minima BEFORE any retry (round-8 verdict #3, the ×100 regime)") {
    // three initial runs per side; the kept pair is each side's minimum —
    // the eviction/steal-immune statistic the ×100 artifacts now commit —
    // and no violation-driven retry fires when that pair is in bounds
    val base = Iterator((0.5, 0L), (0.3, 0L), (0.4, 0L))
    val scale = Iterator((1.2, 100L), (0.7, 0L), (0.9, 0L))
    val (tBase, tScale, steal, tries) =
      ScaleSmoke.measureWithRetry("q15_sessionize", 2, minOf = 3)(
        () => base.next(), () => scale.next())
    assert(tBase == 0.3 && tScale == 0.7, s"per-side minima not kept: ($tBase, $tScale)")
    assert(tries == 0 && steal == 0L, s"no retry should fire in bounds: ($steal, $tries)")
  }

  test("docs/SCALE.md is current (generated from the code that writes the artifacts)") {
    val p = java.nio.file.Paths.get("docs/SCALE.md")
    assert(java.nio.file.Files.exists(p),
      "docs/SCALE.md missing — run `sbt \"runMain graft.CatalogDoc\"`")
    assert(java.nio.file.Files.readString(p) == ScaleSmoke.scaleDoc,
      "docs/SCALE.md is stale — regenerate with `sbt \"runMain graft.CatalogDoc\"`")
  }

  test("candidate-pair accounting: stop-list can only shrink the candidate mass") {
    val (naive, stopped, docs) =
      graft.operators.Dedup.candidatePairStats(spark, "/root/testdata/sf0.001")
    assert(docs > 0 && naive >= stopped && stopped >= 0)
    // calibration for the adversarial gate's 128/doc bound: candidate
    // mass counts per-shingle multiplicity, so each doc's ~70-shingle
    // twin overlap puts the HEALTHY corpus at ~74/doc — inside 128/doc,
    // with the adversarial regime (×Copies per doc) far outside it
    assert(stopped <= 128L * docs, s"base corpus exceeds 128 pairs/doc: $stopped / $docs")
    assert(stopped >= 32L * docs,
      s"base candidate mass $stopped is far below the expected twin-overlap scale — calibration drifted")
  }
}
