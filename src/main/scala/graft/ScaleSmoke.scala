package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** 10× scale-stress gate (round-6 verdict item #1): the plan assertions in
  * PlanSpec hold at sf0.1 (~600k rows); this gate demonstrates behavior
  * when the data outgrows the single-partition/broadcast comfort zone.
  * It builds a deterministic ×10 dataset (6M lineitem rows, 50k documents)
  * from sf0.1, then runs the headline queries at BOTH scales under a
  * constrained driver and asserts:
  *
  *  - plan shapes are unchanged at 10× (q21/q22 keep one rule-index probe,
  *    one fact scan and never sort-merge the fact; no query grows a
  *    cartesian or broadcast-nested-loop anywhere),
  *  - no driver OOM (run this main with SPARK_DRIVER_MEM=4g),
  *  - runtime scales ≲ linearly (t10x ≤ LinearBound × t1x per query —
  *    sublinear in practice since fixed costs amortize; the bound leaves
  *    headroom for host steal, which is recorded per run for diagnosis).
  *
  * Usage: SPARK_DRIVER_MEM=4g sbt "runMain graft.ScaleSmoke" — writes
  * SCALE_SMOKE.json and exits nonzero on any violation.
  *
  * Reading ×100 numbers: they are SINGLE runs under deliberate memory
  * pressure, and a query that caches an intermediate (d03's signature
  * frame) can vary several-fold run-to-run as cache eviction forces
  * recompute (d03 observed 16–49 s at ×100 with near-zero steal; ~16–21 s
  * in isolation). The ×100 assertion is completion without OOM within the
  * blanket bound — order-of-magnitude scaling evidence; the tight
  * per-query ratchet applies at ×10 where runs are repeatable.
  */
object ScaleSmoke {

  /** The headline set: kernel, rule ladder, shingle dedup, MinHash dedup,
    * keeper propagation, the full corpus composition, the two heaviest
    * event-time shapes (value-range moving agg, sessionization), and the
    * deep-graph star keeper (chain depth grows ×Copies here — en's path
    * goes 2,180 → 21,800 — while star rounds grow only ~log: the O(log d)
    * claim, executed), plus the rule ladder's NON-BROADCAST fallback
    * (q40 — the path that runs at 100 TB when the dim outgrows broadcast
    * size must itself scale, not just match q21's oracle), and the
    * strict-order funnel (q43 — the round-8 behavioral shape: two window
    * passes + rollup over one user shuffle, gated so the shared-shuffle
    * plan can't silently regress into per-pass exchanges at scale), and
    * TF-IDF (t13 — the vocab-keyed join family: tf/df aggs + term
    * equi-join + per-doc top-k, the only gate entry whose join key
    * cardinality GROWS with the corpus), and — round-8 verdict #2/#8 —
    * the PRODUCTION dedup paths (d08/d09: the stop-listed shingle and
    * MinHash joins a 100 TB run would actually use, which until now had
    * ×10 numbers only for their naive baselines) plus the rule ladder
    * through the byte-based Auto strategy (q47 — the decision jobs, dim
    * count + row-size sample, must themselves be scale-invisible: expected
    * ratio ≈ q21's). */
  val GateQueries: Seq[String] = Seq(
    // The four LADDER-CLASS queries (q22/q21/q47/q40 — each embeds the 8
    // dim-construction broadcast subtrees) run ADJACENTLY because their
    // assertions are pairwise comparisons ("Auto's decision overhead is
    // invisible: q47 ≈ q21"; "the shuffle fallback scales like the
    // ladder: q40 vs q21") — comparisons are cleanest when the twins
    // execute back-to-back under the same JVM state. This is NOT a
    // slowdown mitigation: the round-8/9 "late-position 8-19× on a
    // byte-identical plan" pathology was root-caused in round 10 to
    // CONCURRENT JVM workloads on the box (kernel-time amplification,
    // docs/LADDER_INVESTIGATION.md) — on a quiet host the cohort times
    // flat at ANY position (SPARK_GRAFT_SCALE_ORDER=ladder_last is the
    // committed reproducer/regression check), and `foreign_ticks` in the
    // artifact now records the contamination evidence per query.
    "q22_kernel_full", "q21_rule_match", "q47_rule_match_auto",
    "q40_rule_match_shuffle",
    "d02_dedup_ngram",
    "d03_dedup_minhash", "d07_dedup_keeper", "c01_corpus_clean",
    "q29_moving_agg", "q15_sessionize", "d12_keeper_star_deep",
    "s02_ann_lsh", "q43_funnel", "t13_tfidf_topk",
    "d08_dedup_stoplist", "d09_dedup_minhash_stoplist",
    "t15_lm_score", "c03_pipeline_to_shards",
    // round-9 additions: the SCD2 history build (one customer shuffle
    // shared by three window passes + the collapse — the subset-clustering
    // claim must hold at scale, not just in PlanSpec), sequence packing
    // (per-bucket running sum + bounded explode: output row count rides
    // token count), and IVF-PQ (codebook training = 16 bounded Lloyd jobs
    // whose cost must stay corpus-dominated, encoding a per-row
    // projection, candidate work ≈1/k of the corpus per probe)
    "q49_scd2_history", "t16_pack_sequences", "s09_ivfpq_adc",
    // round-11 addition (round-10 verdict #4): SemDeDup's within-cell pair
    // join now keys on the corpus-scaled refined cell — the gate holds the
    // fix with a ratcheted bound (the fixed-8-cell regime it replaces is
    // exactly the shape that produced s09's ratio 44 at ×100)
    "d13_semantic_dedup",
    // round-10 addition (round-9 verdict #4): ONE streaming surface
    // executes at scale — q48's flatMapGroupsWithState sessionization is
    // the entry whose keyed state could actually misbehave with volume
    // (state rows ≈ open sessions; the ×10 events regime grows USERS, so
    // state grows linearly and per-user work stays flat). Measured
    // machinery-calibrated: the fixed AvailableNow drain floor (epsilon
    // 2-row probe, min of 2) is subtracted from both sides, so the ratio
    // reflects data-dependent work, not checkpoint/commit latency.
    "q48_sessionize_append_sink",
    // round-11 additions: d14's window-hash dedup is the newest
    // shuffle-heavy dedup shape (its key space must GROW with the corpus
    // — a bounded hash space would convoy groups the way fixed LSH planes
    // did); q53's full-outer MERGE is the one key-partitioned mutation
    // shape in the catalog (feed size scales with the snapshot here, so
    // the join must stay ~linear)
    "d14_span_dedup", "q53_merge_apply",
    // round-11 batch 3: d16's incremental shape must stay DELTA-sized at
    // scale — the batch-bands ⋈ history-index join grows with the batch,
    // not history², and the corpus-scaled bands keep bucket occupancy
    // flat (the same claim d03's gate entry holds for the symmetric case)
    "d16_incremental_neardup",
    // round-12 (round-11 verdict #5): d16 against the PERSISTED bucketed
    // history index — the daily-ingest shape whose measured cost must be
    // batch-side only (the untimed warm run builds the index once per
    // JVM/scale; the timed runs read it). Expect t well under d16's on
    // the same corpus — that delta IS the executed persisted-index claim.
    "d17_neardup_indexed",
    // round-12 (round-11 verdict #2): d15 was the #2 bench query with
    // ZERO committed scale evidence — its FuzzyMaxGramDf posting-list cap
    // bounds candidate mass in principle, and this entry (plus the
    // fuzzy_occupancy gauge) makes that a measured claim. Cost class:
    // gram-index equi-join + candidate-bounded exact Levenshtein.
    "d15_fuzzy_join",
    // round-13 (round-12 verdict #7): BPE pair-merge training — the one
    // iterative vocab-scale shape in the catalog: one corpus shuffle to
    // the word-frequency histogram, then 8 rounds of vocab-sized pair
    // aggs each ending in a 1-row driver fetch. The gate claim: per-round
    // cost rides the VOCAB (which the disjoint-copy data grows ×Copies),
    // and the 8-round loop adds no super-linear lineage/driver cost.
    "t24_bpe_train",
    // round-13 batch 2: the tokenizer APPLY pass (t25 — t24's training
    // rounds plus ONE map-only encode scan; the gate claim is that the
    // literal-replace transform chain stays per-row linear with no
    // shuffle creeping in) and hybrid RRF retrieval (s15 — two global
    // top-N lists that must keep planning as TakeOrderedAndProject: a
    // regression to a global sort would surface as a superlinear ratio
    // on the corpus-wide lexical agg + single-probe vector scan)
    "t25_bpe_encode", "s15_hybrid_rrf",
    // round-14 (round-13 verdict #1): s09 served from the PERSISTED
    // vector index — the candidate side reads the bucketed codes table
    // and reconstructs residuals from spec-file codebook literals, so the
    // measured cost must be probe-side + candidate-join only (the 16
    // Lloyd jobs + corpus-wide encode run at BUILD time, timed separately
    // as the forced `s16_index_build` entry, d17's protocol).
    "s16_ivfpq_indexed",
    // round-15 (round-14 verdict #1): the vector index's incremental
    // APPEND — the timed read runs over base codes ∪ delta segment, and
    // the forced `s17_delta_append` entry times the frozen-spec delta
    // encode, whose cost must be DELTA-sized (bounded at ×100 as a
    // fraction of the same run's forced full build — the executed "daily
    // ingest never retrains" claim).
    "s17_ivfpq_append",
    // round-16 (round-15 verdict #3): the lifecycle's third step — the
    // timed read runs over the COMPACTED generation (single-table scan,
    // segment-count-independent plan) and the forced `s18_compact` entry
    // times the fold itself: a bucketed rewrite of frozen codes whose
    // cost must ride the corpus-compressed index size, never training.
    "s18_ivfpq_compact",
    // round-16 (round-15 verdict #1/#2): the ONLINE serving path — q58
    // drains the s17 probe slice as a stream against base ∪ delta with
    // the candidate read cell-pruned per batch. The claim this entry
    // holds: per-batch cost ∝ touched cells (the pruned bucketed read),
    // not corpus size — the previous shape's full-index shuffle per
    // micro-batch is exactly what a ratio blowup here would catch.
    // Machinery-calibrated like q48 (1-probe drain floor subtracted).
    "q58_ann_stream_enrich",
    // round-15 (round-14 verdict #6): t26 is map-only/low-risk but the
    // standing convention is that every declared operator family carries
    // a scale entry; per-row regex chains can still regress superlinearly
    // through pathological backtracking or codegen fallback.
    "t26_html_extract",
    // round-17 (round-16 verdict #6/#7): filtered retrieval — s20 serves
    // the metadata predicate from the PERSISTED lang column (a pushed
    // scan predicate on the cell-pruned candidate read; the claim: the
    // filter THINS candidate mass, so the scaled ratio must track s16's,
    // never exceed it structurally), and q59 is the same predicate on the
    // ONLINE path (q58's drain; per-batch cost still ∝ touched cells).
    "s20_ann_filtered_indexed", "q59_ann_stream_filtered")

  /** Scale factor of the generated dataset. Default ×10; set
    * SPARK_GRAFT_SCALE_COPIES=100 for the heavyweight ×100 demonstration
    * (60M lineitem rows / 500k docs / 1M events — ~20 min end-to-end).
    * Bench always uses the default. */
  val Copies: Int = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
  // ADVICE r16: one shared constant — the copy-block spacing IS the span
  // Similarity's delta-append disjointness assertion validates against;
  // referencing it (not a twin literal) makes drift impossible.
  private val IdShift = graft.operators.Similarity.PqDeltaBlockSpan
  /** ≲linear fallback: 20% superlinear headroom over perfect ×Copies
    * scaling — used only where no ratcheted history exists. */
  val LinearBound: Double = 1.2 * Copies

  /** Ratcheted ×10 ratio bounds (round-7 verdict item #3): the quiet-run
    * history at the time each entry was RATCHETED (r6 for the original
    * eight — steal ≤ 11 ticks/query — r7 for d12/e1) × 1.5 headroom,
    * floored at 3.0 to absorb a steal burst landing on the one scaled
    * run. The blanket `1.2 × Copies` = 12 was slack by ~2.5×: a d03
    * regression from its recorded 4.8× to 11× would have PASSED; under
    * these bounds it fails (4.81 × 1.5 = 7.2). DELIBERATELY one-way and
    * not re-derived from the latest SCALE_SMOKE.json — auto-rebaselining
    * would let a slow regression ratchet its own bound up; tighten these
    * when a quiet run shows durable headroom, never loosen. Only
    * meaningful for the recorded ×10 configuration — other Copies fall
    * back to the blanket bound. */
  private val RecordedRatio10: Map[String, Double] = Map(
    "q22_kernel_full" -> 1.395, "q21_rule_match" -> 1.707,
    // d02 re-derived for the batch-2 conditional-widen shape (optimization
    // round 17, the s16 shape-change precedent): the sf0.1 BASE dropped
    // 3.38 → 1.04 s (the shingle build now runs 32-wide instead of on the
    // 2 scan splits) while the ×10 scale side IMPROVED 10.57 → 7.59 s (the
    // widen is conditional and the ×10 corpus is already wide, so its gain
    // is the d07/t20-class shared-frame materialization) — the ratio grew
    // only because the denominator shrank. First post-shape gate reading
    // 7.30 (foreign 5125 ticks — warm window; retries exhausted at ~7.3
    // consistently, so the reading is stable); tighten on the next quiet
    // run, never loosen.
    "d02_dedup_ngram" -> 7.301, "d03_dedup_minhash" -> 4.810,
    "d07_dedup_keeper" -> 3.239, "c01_corpus_clean" -> 2.600,
    "q29_moving_agg" -> 2.086, "q15_sessionize" -> 1.650,
    // round-7 additions, ratcheted from their first committed run
    "d12_keeper_star_deep" -> 1.614, "e1_write_month" -> 1.244,
    "s02_ann_lsh" -> 1.620,
    // round-8 additions, each ratcheted from its first committed quiet run
    // (q40 2.274× → bound 3.41 — the blanket 12 would have passed a 5×
    // drift; q43 1.367× → floor bound 3.0; t13 3.42× → bound 5.13 — the
    // vocab join's df-side cardinality grows with the corpus, so its
    // ratio sits above the fixed-cardinality shapes by design)
    "q40_rule_match_shuffle" -> 2.274,
    "q43_funnel" -> 1.367,
    "t13_tfidf_topk" -> 3.42,
    // round-9 additions, ratcheted from their first quiet run (steal ≤ 7
    // ticks each; q47 ≈ q21's ratio as predicted — the Auto estimate jobs
    // are dim-only and scale-independent)
    "d08_dedup_stoplist" -> 2.110,
    "d09_dedup_minhash_stoplist" -> 2.488,
    "q47_rule_match_auto" -> 1.263,
    "t15_lm_score" -> 2.391,
    "c03_pipeline_to_shards" -> 1.540,
    // round-9 batch 2, ratcheted from their first quiet runs (steal ≤ 11
    // ticks each; s09's base is codebook-training-dominated — 16 bounded
    // Lloyd jobs — so its ratio measures the corpus-scaling tail)
    "t16_pack_sequences" -> 1.602,
    "s09_ivfpq_adc" -> 1.532,
    "q49_scd2_history" -> 1.511,
    // round-10: q48 is machinery-calibrated (floor-subtracted), so its
    // denominator is the base drain's DATA work alone (≈0.3-0.6 s at
    // sf0.1) — drain jitter swings the ratio more than the batch
    // cohort's (quiet min-of-3 observations: 1.96 and 3.31), so the
    // ratchet records the larger quiet run. The state-scaling claim it
    // protects: sessionization state grows with USERS (linear here) and
    // per-user work stays flat.
    "q48_sessionize_append_sink" -> 3.31,
    // round-11 addition: first two quiet isolated runs of the refined-cell
    // SemDeDup pair join read 2.28 / 2.40 — record the larger (the q48
    // convention for sub-second-base entries)
    "d13_semantic_dedup" -> 2.402,
    // round-11 batch 2: first two quiet gate runs (each query's own
    // steal/foreign ≤ 26/10 ticks in both) — d14 2.18/2.70, q53
    // 1.33/1.40; record the larger
    // d14 re-derived for the batch-2 widen shape (optimization round 17,
    // same reasoning as d02 above): base 2.24 → 0.63 s, ×10 scale side
    // IMPROVED 8.37 → 4.42 s; the ratio is a shrunken-denominator
    // artifact. First post-shape reading 7.01 (own window quiet:
    // steal/foreign 22/20).
    "d14_span_dedup" -> 7.011,
    "q53_merge_apply" -> 1.398,
    // round-11 batch 3: d16's first two gate runs read 5.35 (steal/foreign
    // 101/109 — mildly warm) and 3.61 (34/38 — quiet); record the larger
    // (the q48 convention). Its cost class is d03's: the same corpus-scaled
    // signature build runs over history + batch.
    "d16_incremental_neardup" -> 5.353,
    // round-12 newcomers, ratcheted from their first quiet gate run
    // (steal/foreign 35/86 and 10/0): d15's posting-list cap keeps its
    // scale side nearly flat (13.4 s over a 9.0 s base — the Levenshtein
    // verify is candidate-bounded, and fuzzy_occupancy reads 151 → 80);
    // d17's ratio is HIGHER than d15's because its base is tiny (1.06 s —
    // the batch-side-only shape), not because scale work grew: its scale
    // side (3.73 s) runs 33% under d16's (5.55 s), the removed history
    // rebuild.
    // d15 re-derived for the batch-2 shape (optimization round 17, same
    // reasoning as d02): the bounded-Levenshtein verify + explicit-width
    // repartition dropped the sf0.1 base 9.33 → 2.61 s while the ×10
    // scale side held (13.77 → 13.11 s). First post-shape reading 5.02
    // (foreign 3237 — warm window; retries consistent at ~4.6-5.0);
    // tighten on the next quiet run.
    "d15_fuzzy_join" -> 5.022,
    "d17_neardup_indexed" -> 3.522,
    // round-13 newcomers, ratcheted from their first quiet gate run
    // (steal/foreign 68/45 and n/a — the build is timed outside the
    // steal window; host 13 ticks/10 s before the run): t24's per-round
    // cost rides the vocab-sized histogram, so its ratio is nearly flat
    // (1.565 s over a 1.464 s base — the 8 driver round-trips dominate
    // both sides); d17's forced from-scratch index build reads 3.41 →
    // 19.59 s — the history pipeline + bucketed write over a 10× corpus,
    // ≈ d16's inline history cost plus the write, exactly the once-ever
    // price the restart-reuse path amortizes.
    "t24_bpe_train" -> 1.069,
    "d17_index_build" -> 5.748,
    // round-13 batch 2, ratcheted from their first quiet gate run
    // (steal/foreign 1/37 and 0/5, zero retries): t25 is vocab-flat like
    // t24 (the 8 training rounds dominate both sides; the encode scan
    // itself is the linear tail), s15's two top-N lists ride the corpus
    // linearly with the bounded fusion join invisible.
    "t25_bpe_encode" -> 0.965,
    "s15_hybrid_rrf" -> 1.476,
    // round-14 newcomers. s16's first ratchet (6.002, bucketed-scan
    // shape) lasted one day: the ×100 regeneration exposed quadratic
    // cellr skew under one-task-per-bucket scans plus an interpreted
    // per-pair kernel (ROUND14_NOTES), so the shape changed DELIBERATELY
    // (round-robin spread + compiled DoubleVecSqDist + rres materialized
    // below the exchange) and the ratchet was re-derived once from the
    // new shape's first gate run (1.53 → 2.16 s, window 80/87
    // steal/foreign ticks, zero retries) — the s09-radius-2 precedent.
    // The forced build is Lloyd-job-count-dominated on both sides, hence
    // near-flat.
    "s16_ivfpq_indexed" -> 1.405,
    "s16_index_build" -> 1.365,
    // round-15 newcomers, ratcheted from their first two quiet ×10 gate
    // runs at HEAD (the new entries' own windows were quiet in both runs
    // — steal ≤ 9, foreign ≤ 65 — even where OTHER queries' windows
    // were contamination-logged): s17's indexed read rode 1.32/1.67
    // (base∪delta ≈ 1.1× s16's corpus), the forced delta append
    // 2.11/2.39 (delta encode is fixed-overhead-dominated at ×10 — the
    // delta-sized claim is the recorded vs_build fraction 0.12/0.16),
    // t26's map-only extraction 2.99/3.12. Max of the pair recorded,
    // per the two-observation convention.
    "s17_ivfpq_append" -> 1.67,
    "s17_delta_append" -> 2.391,
    "t26_html_extract" -> 3.12)

  /** Ratcheted ×100 ratio bounds (round-10 verdict #6): until now the ×100
    * demonstration ran under the flat blanket `1.2 × copies` = 120, which
    * would not catch a 2× ×100 regression in ANY query. Each entry is the
    * MAX of the two committed same-HEAD artifacts (the 4g and 16g
    * companions, both min-of-3 per side) — the bound must hold in both
    * memory regimes — × 1.5 headroom, floored at 6.0 (×100 single-JVM
    * runs carry more eviction/GC variance than ×10; the floor absorbs a
    * burst landing on one side's minimum). Same one-way discipline as
    * [[RecordedRatio10]]: never auto-rebaselined, tighten on durable
    * quiet-run headroom only. Queries whose shape changed this round
    * (d03/d09's corpus-scaled bands, d13's refined cells — new at ×100)
    * enter after their first quiet ×100 run. */
  private val RecordedRatio100: Map[String, Double] = Map(
    // c01 re-derived for the corpus-scaled-bands shape (the s09
    // re-derivation precedent — a DELIBERATE recall/occupancy fix, not a
    // regression): its cost is d07's MinHash machinery, whose ×100
    // signature build grew when bands became corpus-scaled; the old 8.415
    // predates that shape. Evidence: isolated fresh-JVM quiet probe at
    // HEAD reads 12.511 (base 4.39 / scale 54.9 — scale-side ≈ d07's own
    // 55.7; the extra ratio vs d07's 9.83 is a FASTER base read, not
    // extra scale-side work).
    "c01_corpus_clean" -> 12.511, "c03_pipeline_to_shards" -> 5.485,
    // d07 re-derived with c01 (same machinery, same reason): post-shape
    // quiet observations read 9.83 / 12.55 final minima with intermediate
    // retry reads to 14.93 — the scale side is STABLE at 52-57 s
    // throughout; the spread is base-side page-cache state swinging the
    // ~4-6 s denominator 1.5×. Record the worst quiet read; the bound
    // (22.4) still fails a 2× scale-side regression (ratio ≈ 27).
    "d07_dedup_keeper" -> 14.93, "d08_dedup_stoplist" -> 11.308,
    "d12_keeper_star_deep" -> 3.573, "q15_sessionize" -> 7.705,
    "q21_rule_match" -> 9.007, "q22_kernel_full" -> 8.382,
    "q29_moving_agg" -> 7.442, "q40_rule_match_shuffle" -> 11.745,
    "q43_funnel" -> 7.332, "q47_rule_match_auto" -> 6.845,
    "q49_scd2_history" -> 11.33, "s02_ann_lsh" -> 6.179,
    // s09 re-derived AGAIN round 13 for the radius-2 refinement
    // multi-probe (round-12 verdict #3 — the second and final deliberate
    // recall purchase: probes at bits ≥ 5 search (1+bits+C(bits,2))/2^bits
    // of their label cell — 22/64 at ×100 — which bought sampled recall
    // s05 0.108→0.178, s06 0.174→0.302 at a measured scale-side cost of
    // 53.8→91.2 s). Quiet isolated fresh-JVM probe at HEAD: base 5.25 /
    // scale 91.2 → 17.364 (the r11 single-flip ratchet 11.971 predates
    // the shape).
    "s09_ivfpq_adc" -> 17.364, "t13_tfidf_topk" -> 12.46,
    "t15_lm_score" -> 21.46, "t16_pack_sequences" -> 6.14,
    "e1_write_month" -> 2.066,
    // round-11 first quiet ×100 runs of the corpus-scaled band/cell shapes;
    // d03 re-recorded from its second same-shape quiet observation (21.18 —
    // the d07/c01 base-side-denominator spread, scale side stable)
    "d03_dedup_minhash" -> 21.18, "d09_dedup_minhash_stoplist" -> 8.88,
    "d13_semantic_dedup" -> 9.058,
    // d16 TIGHTENED round 13 (round-12 verdict #6) from four quiet
    // observations: 17.94 / 13.49 (the two r12 artifacts) and 11.34
    // (r13 isolated probe) against a scale side stable at 14.4-19.4 s.
    // 15.0 × 1.5 = 22.5 still passes the worst plausible quiet pairing
    // (stable scale 19.4 over the quiet base floor 1.07 ≈ 18.1) while
    // failing a 1.5× scale-side regression from the stable band; the
    // absolute bound (29.2 s) + base envelope carry the two-statistic
    // backstop.
    "d16_incremental_neardup" -> 15.0,
    // round-13 re-derivation (round-12 verdict #1): the r12 value (34.541)
    // was the max of an artifact pair whose d14 windows carried logged
    // foreign bursts (c01/d09 at 6k/9.5k ticks — scale side read
    // 70.3/62.6 s) while the same-HEAD same-hour ISOLATED fresh-JVM probe
    // read scale 30.4 s / ratio 17.97, byte-consistent with r11's quiet
    // 31.6 s. Ratchet protocol, formalized: when a query's artifact-pair
    // windows are contamination-logged (nonzero foreign_ticks warnings),
    // the ratchet derives from the quiet isolated probe, not the noisy
    // artifact max — the gate's own downgrade machinery absorbs the
    // contextual spread at run time; the bound must encode the quiet
    // number or a real ~2.9× regression passes silently.
    "d14_span_dedup" -> 17.97,
    "q53_merge_apply" -> 8.378, // r11's 4g reading still the max observed
    "d15_fuzzy_join" -> 19.527,
    "d17_neardup_indexed" -> 12.871,
    // round-13 newcomers, from their first quiet isolated ×100 probe
    // (violations [], same fresh-JVM protocol as d14): t24 is vocab-flat
    // at ×100 exactly as at ×10 (3.84 s over a 3.08 s base); the forced
    // index build reads 2.43 → 11.65 s (history pipeline + bucketed
    // write, ≈ d16's scale-side cost class)
    "t24_bpe_train" -> 1.247,
    // round-13 batch 2, same fresh-JVM protocol (zero retries; t25's
    // window 67/27 steal/foreign ticks, s15's 41/556 — mildly warm, the
    // d16 record-as-read convention): t25's training rounds ride the
    // ×100 vocab (3.34 → 6.37 s), s15's lists ride the corpus linearly
    // (1.46 → 6.02 s); both bounds sit at/near the 6.0 ×100 floor.
    // Provenance closed round 14 (ADVICE r13): both regimes' artifacts
    // now carry these rows at the same query-code HEAD — 4g t25 1.471 /
    // s15 4.690, 16g t25 1.406 / s15 4.298, all zero-retry. t25
    // TIGHTENED 1.906 → 1.471 (the two-artifact max, durable headroom;
    // bound stays the 6.0 floor either way); s15's two-artifact max
    // (4.690) sits ABOVE the standing 4.137, so the one-way rule keeps
    // the tighter entry — both committed readings pass its 6.21 bound.
    "t25_bpe_encode" -> 1.471,
    "s15_hybrid_rrf" -> 4.137,
    // round-14 newcomer, from its quiet ISOLATED fresh-JVM probe per the
    // ratchet protocol (the full-run window was contamination-logged:
    // 2975 foreign ticks, ratio 14.3; the isolated probe read base 1.03 /
    // scale 12.51 at the 4 GiB driver — the roomy-driver read is ~2×
    // faster, so the ratio is memory-pressure-shaped, not algorithmic).
    // The ×100 side pays bits=6 radius-2 (22 sub-buckets/probe) +
    // nprobe-2 over 100× the probes against a bits=0 base.
    "s16_ivfpq_indexed" -> 12.299,
    // round-15 newcomers, from their quiet isolated fresh-JVM ×100
    // probes per the d14 ratchet protocol (every full-run window that
    // day was contamination-logged — foreign 1.0k–2.9k ticks — while
    // the probes' scale sides agree with the full runs': s17 14.45 s
    // quiet vs 18-19 s logged, t26 stable at 32.9-34.4 s everywhere):
    // s17's indexed read rides s16's cost class + the 10% delta
    // (probe 14.267; 16g full-run read 15.13); t26's map-only chain is
    // ~34 s over a ~1 s base (probe 37.282 — the worst observed, base-
    // side spread, recorded per the record-as-read convention).
    "s17_ivfpq_append" -> 14.267,
    "t26_html_extract" -> 37.282)

  /** Absolute ×100 bound (seconds) on d17's forced SCALE-side index
    * build. At ×100 the build's ratio denominator is a 1-3 s fully-
    * page-cached base build that swings 2.6× run-to-run (observed 1.25 /
    * 2.43 / 3.22 at the same HEAD) while the scale side is stable
    * (10.83 / 11.65 quiet) — the AbsoluteScale100Sec lesson applied to
    * the one single-shot-write entry: gate the stable statistic, record
    * the ratio for context. Worst committed quiet scale-side reading
    * (11.65) × 1.5. One-way. */
  val IndexBuildAbsScale100Sec = 17.5

  /** Absolute ×100 bound (seconds) on s16's forced SCALE-side vector-index
    * build (train coarse+sub codebooks, encode the corpus, bucketed
    * write) — the [[IndexBuildAbsScale100Sec]] reasoning applied to the
    * second single-shot-write entry. Derived round 14 from three
    * same-HEAD readings that agree (43.2 full-run, 43.8/45.3 isolated
    * fresh-JVM min-of-2; the build's [pqidx] phase breakdown reads
    * train ≈ 28 s + encode+write ≈ 17 s at the 4 GiB driver) × 1.5.
    * The 19.0 s reading in the first (pre-shape-fix) ×100 artifact did
    * not reproduce at either HEAD and is treated as anomalous. One-way. */
  val PqIndexBuildAbsScale100Sec = 68.0

  /** ×100 bound on s17's forced SCALE-side delta append as a FRACTION of
    * the same run's forced s16 full build — the delta-sized claim made
    * checkable: the append encodes [[graft.operators.Similarity]]'s 10%
    * delta slice with frozen codebooks (no Lloyd jobs, no corpus scan),
    * so its cost must be a small fraction of train+encode-all+write.
    * Measured 0.050–0.059 across the first three ×100 readings (append
    * 2.54–2.71 s against 45.6–50.8 s builds); the bound tightened from
    * the 0.5 provisional to 0.2 — ≥3.4× headroom over every observation
    * while still failing any path that quietly re-encodes the corpus
    * (≈0.4+) or retrains. ×100 only: at ×10 both sides are
    * fixed-overhead-dominated (CREATE/DROP + job scheduling ≈ the encode
    * itself), so the fraction is recorded there but not gated. One-way. */
  val PqDeltaAppendVsBuild100Bound = 0.2

  /** Absolute ×100 bound (seconds) on s17's forced SCALE-side delta
    * append — the [[PqIndexBuildAbsScale100Sec]] reasoning for the
    * append: single-shot write, base-side denominator noisy, scale side
    * the stable statistic. Ratcheted from the first three same-HEAD ×100
    * readings (2.68 / 2.71 / 2.54 — 4g full run, quiet isolated probe,
    * 16g full run; stable across memory regimes): worst × 1.5. One-way. */
  val PqDeltaAppendAbsScale100Sec = 4.1

  /** Absolute ×100 bound (seconds) on s18's forced SCALE-side segment
    * FOLD — the [[PqDeltaAppendAbsScale100Sec]] reasoning for
    * compaction: single-shot bucketed rewrite, base-side denominator
    * noisy, scale side the stable statistic. The fold reads base codes ∪
    * delta segment (~220k rows × 11 small ints at ×100 — the compressed
    * index, no floats) and rewrites one bucketed table; its cost class
    * is s17's append write plus a corpus-compressed read, far under any
    * training path. PROVISIONAL until the first quiet ×100 readings land
    * (the ratchet-first/regenerate-second rule — round-15 verdict #5):
    * tightened to worst-quiet × 1.5 in the same change that commits the
    * first ×100 artifact carrying the row. */
  val PqCompactAbsScale100Sec = 10.0

  /** A forced single-shot build gated as its own entry next to
    * `gateQuery` (round-12 verdict #2 — warming a build untimed made its
    * regressions invisible): the persisted artifact is rebuilt from
    * scratch on each side, min of 2 runs (a single-shot write has no
    * retry machinery, and contamination only inflates), each run must
    * report `expect`, and the entry is gated by the ratio ratchet at ×10
    * and by `absScale100` scale-side seconds at ×100, where the base is a
    * fully-cached write swinging 2.6× while the scale side is stable (the
    * [[AbsoluteScale100Sec]] reasoning; the ratio stays recorded). */
  private final case class ForcedBuild(entry: String, gateQuery: String,
      expect: String, absScale100: Double, run: (SparkSession, String) => (String, Double))

  /** d17's near-dup index build, s16's vector-index train + encode +
    * write, s17's frozen-spec delta append (the base index is reused, so
    * the timing isolates the append) and s18's segment fold. */
  private val ForcedBuilds: Seq[ForcedBuild] = Seq(
    ForcedBuild("d17_index_build", "d17_neardup_indexed", "built", IndexBuildAbsScale100Sec, Dedup.ensureNearDupIndex(_, _, force = true)),
    ForcedBuild("s16_index_build", "s16_ivfpq_indexed", "built", PqIndexBuildAbsScale100Sec, Similarity.ensurePqIndex(_, _, force = true)),
    ForcedBuild("s17_delta_append", "s17_ivfpq_append", "appended", PqDeltaAppendAbsScale100Sec, Similarity.ensurePqDelta(_, _, force = true)),
    ForcedBuild("s18_compact", "s18_ivfpq_compact", "compacted", PqCompactAbsScale100Sec, Similarity.ensurePqCompact(_, _, force = true)))

  /** Rounds executed by the t24 merge-loop FLATNESS demonstration
    * (round-13 verdict #4): 8× the oracle entry's [[graft.operators
    * .TextAnalysis]] round budget and 4× its lineage-truncation period,
    * so the run crosses four localCheckpoint boundaries — enough to
    * expose per-round cost growing with the round index (the unbounded
    * `replace`-chain plan-depth failure mode that production 30–50k-merge
    * training would hit) while staying a ~10 s gate entry at ×10. */
  val BpeFlatRounds = 64

  /** Bound on the flatness statistic: mean per-round seconds over the
    * LAST quarter of [[BpeFlatRounds]] ÷ the FIRST quarter. Growth in
    * the round index — the thing BpeCheckpointEvery exists to prevent —
    * inflates only the numerator; a merely-slow-everywhere (contaminated)
    * run inflates both quarters together, so the statistic is
    * contamination-resistant without retry machinery. The unbounded
    * pre-fix chain grows ~linearly in round index (last quarter ≈ 7×
    * first at 64 rounds by plan-depth alone); 2.0 fails that while
    * holding JIT/cache drift headroom. Tighten on durable quiet
    * headroom, never loosen. */
  val BpeFlatnessBound = 2.0

  /** Gate entries excluded from the ×100 demonstration BY DESIGN, with the
    * reason recorded in the artifact (round-10 verdict #8 — an artifact
    * red flag must always mean a regression, never a baseline doing what
    * baselines do): d02 is the DECLARED brute-force foil whose ×100 ratio
    * 51–58 is superlinear by construction (d08 is the production path);
    * q48's single-file staging would push 10M rows through one micro-batch
    * — not a streaming regime, a state-store OOM hazard (its state-scaling
    * claim executes at ×10). Both stay oracle-checked at fixture scale. */
  val ExcludedPast10x: Map[String, String] = Map(
    "d02_dedup_ngram" ->
      "declared brute-force baseline; superlinear by design (d08 is the production path)",
    "q48_sessionize_append_sink" ->
      "single-micro-batch staging is not a streaming regime at x100; gated at x10")

  def boundFor(name: String): Double =
    if (Copies == 10)
      RecordedRatio10.get(name).map(r => math.max(r * 1.5, 3.0)).getOrElse(LinearBound)
    else if (Copies == 100)
      RecordedRatio100.get(name).map(r => math.max(r * 1.5, 6.0)).getOrElse(LinearBound)
    else LinearBound

  /** The ratio assertion as a pure function, so ScaleSmokeSpec can prove
    * the gate trips on an injected superlinear regression (test the
    * test — round-7 verdict item #3's done-criterion). */
  def ratioViolation(name: String, ratio: Double): Option[String] = {
    val bound = boundFor(name)
    if (ratio > bound) Some(f"$name: superlinear scaling $ratio%.1f× (>$bound%.2f)")
    else None
  }

  /** Absolute ×100 SCALE-SIDE time bounds (seconds) for the MinHash-
    * machinery family (ADVICE r11 #2): their ×100 ratio denominators are
    * ~4-6 s base reads whose page-cache state swings 1.5×, which round 11
    * absorbed by loosening the RATIO bounds toward 2× tolerance — the
    * wrong lever, since the family's scale sides are STABLE (d07 52-57 s
    * across every quiet run). Each entry is the worst committed quiet
    * scale-side reading across the two same-HEAD ×100 artifacts × 1.5.
    * Two roles: (a) t_scale above the bound is ALWAYS a violation, even
    * when a deflated base keeps the ratio in bounds; (b) a RATIO
    * violation with t_scale inside the bound is downgraded to a recorded
    * `<q>_ratio_suspect` marker (the q48 two-statistic rule generalized)
    * — so the ratio ratchets can stay tight instead of absorbing
    * base-side spread. One-way, like every other recorded bound. */
  private val AbsoluteScale100Sec: Map[String, Double] = Map(
    "d03_dedup_minhash" -> 36.0, // worst quiet 24.0 (4g)
    "d07_dedup_keeper" -> 85.1, // 56.7 (16g)
    "c01_corpus_clean" -> 98.4, // 65.6 (4g)
    "d09_dedup_minhash_stoplist" -> 28.9, // 19.2 (4g)
    "d16_incremental_neardup" -> 29.2) // 19.4 (4g)

  /** Absolute bound on the FLOORED scale-side time a streaming
    * two-statistic waiver may bless (ADVICE r11 #3): in the
    * floor-dominated regime the raw ratio can stay under
    * [[StreamingRawRatioBound]] while the scale side's data time (t −
    * floor) regresses several-fold — quiet floored readings are ≲1.2 s at
    * ×10, so 5 s of data time is a real regression no matter what the raw
    * ratio says, and the waiver refuses it. */
  val StreamingWaiverAbsScaleSec = 5.0

  /** Absolute sampled-recall floors for (s05, s06), SCALE-DEPENDENT
    * since round 14 (round-13 verdict #6): at ×100 s05 probes its top-2
    * label cells (`NProbe2MinBits`) and committed readings are
    * 0.302/0.302, so both floors sit at 0.20 (≥1.5× margin) — a silent
    * fallback to the nprobe-1 radius-2 level (0.178) now FAILS at ×100,
    * as does the single-flip level (0.108) and the round-11
    * single-sub-bucket defect (0.05). Below ×100 the nprobe widening is
    * corpus-gated OFF (×10 scale side is bits=3), so the s05 floor pins
    * the single-cell level instead: committed ×10 readings 0.20/0.35 →
    * 0.133/0.20 (≥1.5× margin). One-way like the ratio ratchets within
    * each regime: tighten on durable headroom, never loosen. */
  val IvfRecallFloor: Seq[Double] =
    if (Copies >= 100) Seq(0.20, 0.20) else Seq(0.133, 0.20)

  /** Two-statistic rule for machinery-calibrated streaming entries: the
    * floor-subtracted denominator is ~0.3-0.6 s at sf0.1, so a host
    * foreign-load burst landing on the base drain flips the floored ratio
    * several-fold (observed same-HEAD: floored 6.6 from a 0.23 s
    * denominator inside an 11,695-foreign-tick window while the raw
    * per-side minima read 1.59 — vs quiet raw history 1.25/1.28). A
    * GENUINE state-store regression inflates the scale side's data time
    * and therefore BOTH statistics, so a floored-ratio violation is
    * downgraded to a recorded `<q>_ratio_suspect` marker unless the raw
    * ratio also exceeds this bound (quiet history 1.28 × 1.5 headroom,
    * rounded up — one-way, same discipline as the ratchet maps). */
  val StreamingRawRatioBound = 2.0
  def streamingViolationWaived(rawRatio: Double): Boolean =
    rawRatio > 0 && rawRatio <= StreamingRawRatioBound

  /** The full streaming waiver (ADVICE r11 #3): raw ratio quiet AND the
    * floored scale-side data time inside its absolute envelope. */
  def streamingWaiverAllows(rawRatio: Double, flooredScale: Double): Boolean =
    streamingViolationWaived(rawRatio) && flooredScale <= StreamingWaiverAbsScaleSec

  /** Absolute ×100 scale-side check (ADVICE r11 #2), pure for the spec:
    * Some(violation) when the query has a recorded bound and exceeded it. */
  def absScale100Violation(name: String, tScale: Double, copies: Int): Option[String] =
    if (copies == 100)
      AbsoluteScale100Sec.get(name).collect {
        case b if tScale > b =>
          f"$name: scale-side time $tScale%.1f s exceeds the absolute x100 bound $b%.1f s"
      }
    else None

  /** The flat-occupancy contract of the candidate-mass gauges (s02 LSH,
    * d03 band, d04 block, d15 fuzzy, q58 serving ring-row), pure for the
    * spec: Some(violation) when the scale-side gauge exceeds 3× its base
    * value (floored at 1) — the operator's corpus scaling was `lost`. */
  def occupancyViolation(label: String, base: Double, scale: Double, lost: String): Option[String] =
    if (scale > 3.0 * math.max(base, 1.0))
      Some(f"$label grew to $scale%.1f at x$Copies (base $base%.1f, bound 3x) — $lost")
    else None

  /** Quiet ×100 BASE-side envelopes (seconds) for the same family — the
    * MINIMUM committed quiet base reading per query across the two
    * same-HEAD ×100 artifacts (4g/16g, both min-of-3). The downgrade's
    * premise is "the ratio blew up because the base DEFLATED", so the
    * premise must be checked, not assumed (ADVICE r12: without this, a
    * genuine ≤1.5× scale-side regression rode the downgrade forever,
    * loosening the tight ratio ratchet to an effective 1.5× bound):
    * t_base below this envelope IS a deflated base; t_base at or above it
    * means the ratio violation came from the scale side and stays fatal.
    * One-way like every recorded bound. */
  private val QuietBase100Sec: Map[String, Double] = Map(
    "d03_dedup_minhash" -> 1.192, // 4g 1.192 / 16g 1.327
    "d07_dedup_keeper" -> 4.240, // 4.240 / 7.349
    "c01_corpus_clean" -> 4.236, // 5.609 / 4.236
    "d09_dedup_minhash_stoplist" -> 1.953, // 3.137 / 1.953
    "d16_incremental_neardup" -> 1.068) // 1.068 / 1.069

  /** True when a ×100 RATIO violation for `name` should downgrade to a
    * recorded suspect: the scale side is inside its absolute envelope AND
    * the base side is genuinely deflated (below its quiet minimum) —
    * base-side page-cache spread, not a scale regression. Both statistics
    * are required (ADVICE r12): a ratio violation with a NORMAL base and
    * an in-envelope scale side is a real ≤1.5× scale regression and fails. */
  def absScale100Downgrades(
      name: String, tScale: Double, tBase: Double, copies: Int): Boolean =
    copies == 100 && AbsoluteScale100Sec.get(name).exists(tScale <= _) &&
      QuietBase100Sec.get(name).exists(tBase < _)

  /** Bounded retry-on-violation for one gate query (the ScaleSmoke twin of
    * Bench's steal-reactive retry, round-7 verdict item #1): while the
    * ratio is out of bounds and retries remain, re-measure BOTH sides and
    * keep each side's minimum. Host steal, GC pressure and cache eviction
    * can only INFLATE a run — so per-side minima converge on the quiet
    * observation — while a genuine superlinear regression reproduces on
    * every retry and still fails the gate (ScaleSmokeSpec proves both
    * directions). Min on the BASE side is anti-masking: a contaminated
    * base deflates the ratio, so replacing it with a quieter run makes the
    * gate stricter, never looser. Returns (t_base, t_scale, steal of the
    * kept pair, retries used).
    *
    * `minOf` (round-8 verdict #3): the INITIAL measurement is the minimum
    * of this many runs per side, before any violation-driven retry. 1 for
    * the ×10 gate (retries fire only on violation, keeping the quiet
    * artifact cheap); 3 for the ×100 demonstration, whose single runs
    * under deliberate memory pressure mixed cache-eviction variance into
    * the committed numbers (d03 read 18.3 s @4g vs 37.1 s @16g purely on
    * run-to-run noise) — per-query minima make the artifact evidence, not
    * anecdote. */
  private[graft] def measureWithRetry(name: String, maxRetries: Int,
      backoffMs: Long = 0L, minOf: Int = 1)(
      measureBase: () => (Double, Long),
      measureScale: () => (Double, Long)): (Double, Double, Long, Int) = {
    def minRuns(m: () => (Double, Long)): (Double, Long) =
      (1 to math.max(minOf, 1)).map(_ => m()).minBy(_._1)
    var (t1, s1) = minRuns(measureBase)
    var (t10, s10) = minRuns(measureScale)
    var tries = 0
    while (tries < maxRetries && ratioViolation(name, t10 / t1).isDefined) {
      tries += 1
      System.err.println(
        f"[scale] $name over bound at ${t10 / t1}%.2f× — quiet retry $tries")
      // escalating pause: contamination episodes (host steal, page-cache
      // writeback after a big dataset build) span minutes — back-to-back
      // retries land inside the same episode and prove nothing (observed:
      // q40 at a phantom 21× across 3 consecutive tries during post-×100
      // writeback, 2.7× once the disk went quiet)
      if (backoffMs > 0) Thread.sleep(backoffMs * tries)
      val (b, bs) = measureBase()
      if (b < t1) { t1 = b; s1 = bs }
      val (sc, ss) = measureScale()
      if (sc < t10) { t10 = sc; s10 = ss }
    }
    (t1, t10, if (s1 >= 0 && s10 >= 0) s1 + s10 else -1L, tries)
  }

  def scaleDirFor(baseDir: String): String =
    s"target/scale${Copies}v2_${baseDir.replaceAll("[^A-Za-z0-9.]+", "_")}"

  /** Build the ×10 dataset by unioning shifted copies of the two tables the
    * gate queries read. Copy 0 is the base verbatim; copies 1..9 shift ids
    * past the base key space and (documents) rewrite every token with a
    * copy prefix so cross-copy shingles are DISJOINT — the corpus genuinely
    * grows 10×, instead of becoming 10 mutual near-duplicates of itself
    * (which would blow up any dedup operator quadratically BY THE DATA's
    * construction, drowning the operator-scaling signal this gate is
    * after). Within each copy the duplicate structure is byte-preserved.
    * Deterministic; cached under target/ behind a _DONE marker. */
  def ensureData(spark: SparkSession, baseDir: String): String = {
    val dir = scaleDirFor(baseDir)
    // per-table markers so a new table (embeddings, round 7) appends to an
    // already-built cache without a full ×Copies regeneration; the legacy
    // whole-dir _DONE marker implies the original three tables
    val legacyDone = java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_DONE"))
    def ensureTable(name: String)(write: => Unit): Unit = {
      val m = java.nio.file.Paths.get(dir, s"_DONE_$name")
      val done = java.nio.file.Files.exists(m) ||
        (legacyDone && Set("lineitem", "documents", "events")(name))
      if (!done) { write; java.nio.file.Files.createFile(m) }
    }
    // copies are written as SEQUENTIAL append jobs, not one Copies-way
    // union: a union write runs one parquet writer per concurrent task,
    // each buffering a ~128MB row group — at ×100 under a 4 GiB driver
    // that alone OOMs (observed). Per-copy appends keep writer memory
    // flat in Copies; the generator must scale like the engine it tests.
    def appendCopies(base: DataFrame, out: String)(tx: (DataFrame, Int) => DataFrame): Unit =
      (0 until Copies).foreach { i =>
        tx(base, i).write.mode(if (i == 0) "overwrite" else "append").parquet(out)
      }
    ensureTable("lineitem") {
      val li = spark.read.parquet(s"$baseDir/lineitem.parquet")
      appendCopies(li, s"$dir/lineitem.parquet") { (df, i) =>
        df.withColumn("l_orderkey", col("l_orderkey") + lit(i * IdShift))
      }
    }
    ensureTable("documents") {
      val docs = spark.read.parquet(s"$baseDir/documents.parquet")
      appendCopies(docs, s"$dir/documents.parquet") { (df, i) =>
        val text =
          if (i == 0) col("text")
          else regexp_replace(col("text"), "([A-Za-z0-9]+)", s"c$i$$1")
        df.select(
          (col("doc_id") + lit(i * IdShift)).as("doc_id"),
          text.as("text"), col("lang"), col("source"),
          length(text).cast("long").as("n_chars"))
      }
    }
    // events: shift user_id too, so each copy brings NEW users with the
    // base's per-user event structure — per-user window/session cost is
    // unchanged, user count grows ×Copies (the linear shape). Read through
    // Tables.events (nanos→micros); the written micros ts reads back fine.
    ensureTable("events") {
      val ev = graft.tables.Tables.events(spark, baseDir)
      appendCopies(ev, s"$dir/events.parquet") { (df, i) =>
        df.withColumn("event_id", col("event_id") + lit(i * IdShift))
          .withColumn("user_id", col("user_id") + lit(i * IdShift))
      }
    }
    // orders (q49): shift o_custkey as well as o_orderkey, so each copy
    // brings NEW customers carrying the base's per-customer status
    // history — the SCD2 collapse's per-key run structure is unchanged,
    // customer count grows ×Copies (the same linear shape as events)
    ensureTable("orders") {
      val ord = spark.read.parquet(s"$baseDir/orders.parquet")
      appendCopies(ord, s"$dir/orders.parquet") { (df, i) =>
        df.withColumn("o_orderkey", col("o_orderkey") + lit(i * IdShift))
          .withColumn("o_custkey", col("o_custkey") + lit(i * IdShift))
      }
    }
    // embeddings: each copy applies a deterministic diag(±1) transform
    // (sign per dimension from a hash of (dim, copy)) — an orthogonal map,
    // so every within-copy dot product and norm is preserved EXACTLY in
    // float arithmetic (only signs flip), while copies scatter across the
    // hyperplane-LSH bucket space instead of stacking in the base's
    // buckets (verbatim copies would grow every bucket ×Copies and the
    // ANN join quadratically — the adversarial regime, not the scaling
    // one). vec_id shifts by a multiple of 25 (ProbeMod), so probe
    // membership is copy-consistent and probes grow ×Copies too.
    ensureTable("embeddings") {
      val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
      appendCopies(emb, s"$dir/embeddings.parquet") { (df, i) =>
        val vec =
          if (i == 0) col("embedding")
          else transform(col("embedding"),
            (x, d) => when(pmod(hash(d, lit(i)), lit(2)) === 0, x).otherwise(-x))
        df.select(
          (col("vec_id") + lit(i * IdShift)).as("vec_id"),
          vec.as("embedding"), col("label"))
      }
    }
    dir
  }

  /** The OPPOSITE data regime from [[ensureData]] (round-7 verdict item
    * #7, MIXED per ADVICE r7): copy 0 is the base corpus VERBATIM; copies
    * 1..Copies rewrite every token with the SAME fixed prefix — a
    * boilerplate block of Copies mutual exact-duplicates, shingle-DISJOINT
    * from the base. Every block shingle's document frequency is ≥ Copies >
    * MaxShingleDf, so the naive d02 index goes quadratic on the block BY
    * CONSTRUCTION while the stop-list empties exactly the block — and,
    * because the base corpus's shingle frequencies are untouched, d08 must
    * still recover the base corpus's near-dup pairs BIT-FOR-BIT. The gate
    * asserts both: boundedness (candidate mass stays linear) AND signal
    * (stop-listing boilerplate ≠ dropping everything — the round-7 fixture
    * of all-verbatim copies emptied the whole index, proving only cost). */
  def ensureAdversarialData(spark: SparkSession, baseDir: String): String = {
    val dir = s"target/scaleAdv2_${Copies}_${baseDir.replaceAll("[^A-Za-z0-9.]+", "_")}"
    val done = java.nio.file.Paths.get(dir, "_DONE")
    if (java.nio.file.Files.exists(done)) return dir
    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    (0 to Copies).foreach { i =>
      val text =
        if (i == 0) col("text")
        else regexp_replace(col("text"), "([A-Za-z0-9]+)", "zz$1")
      docs.select(
          (col("doc_id") + lit(i * IdShift)).as("doc_id"),
          text.as("text"), col("lang"), col("source"),
          length(text).cast("long").as("n_chars"))
        .write.mode(if (i == 0) "overwrite" else "append")
        .parquet(s"$dir/documents.parquet")
    }
    java.nio.file.Files.createFile(done)
    dir
  }

  /** docs/SCALE.md — the three scale artifacts' schema and gate semantics,
    * generated FROM the code that writes them (same constants, so the doc
    * cannot drift: ratio bounds come from [[boundFor]], the gate set from
    * [[GateQueries]]). Emitted by CatalogDoc, freshness-checked by
    * ScaleSmokeSpec (round-7 verdict item #8). */
  def scaleDoc: String = {
    val boundRows = (GateQueries :+ "e1_write_month").map { n =>
      val rec = RecordedRatio10.get(n).map(r => f"$r%.3f").getOrElse("—")
      f"| `$n` | $rec | ${boundFor(n)}%.2f |"
    }.mkString("\n")
    s"""# Scale gate artifacts
       |
       |GENERATED by `sbt "runMain graft.CatalogDoc"` from `graft.ScaleSmoke`
       |(the code that writes the artifacts) — do not edit by hand.
       |
       |Three committed artifacts, all written by `runMain graft.ScaleSmoke`
       |(nonzero exit on any violation; `violations: []` is the pass signal in
       |each):
       |
       |## SCALE_SMOKE.json — the ×10 ratcheted gate
       |
       |Built from sf0.1 by `ensureData` (disjoint ×$Copies copies: ids shifted,
       |document tokens copy-prefixed, embeddings orthogonally sign-flipped — the
       |corpus genuinely grows, instead of becoming mutual near-duplicates).
       |Run with a constrained driver: `SPARK_DRIVER_MEM=4g sbt "runMain
       |graft.ScaleSmoke"`.
       |
       |- `t_base_sec` / `t_scale_sec` — per-gate-query wall time at sf0.1 and
       |  ×$Copies (warmed; `steal_ticks` is the contamination evidence for
       |  the kept pair of runs).
       |- `ratio` — `t_scale / t_base`; the scaling statistic the gate judges.
       |- `retries` — quiet retries used per query (`measureWithRetry`): an
       |  out-of-bounds ratio triggers up to SPARK_GRAFT_SCALE_RETRIES
       |  (default 2) re-measurements of BOTH sides, keeping per-side minima,
       |  with an escalating pause between retries
       |  (SPARK_GRAFT_SCALE_RETRY_BACKOFF_MS, default 30s) so a sustained
       |  steal/writeback episode can drain instead of contaminating every
       |  retry.
       |  Contamination (steal/GC/cache eviction) only inflates a run, so the
       |  minima converge on the quiet observation; a real superlinear
       |  regression reproduces on every retry and still fails. A nonzero
       |  entry here with no violation = a transient burst was absorbed.
       |  A query that THROWS (e.g. a broadcast-build OOM under the tight
       |  heap) gets one clean re-attempt; a persistent failure is recorded
       |  as a violation with times/retries = -1 — the artifact is always
       |  written, never lost to a crash.
       |- `ratio_bound` — the RATCHETED per-query ceiling: recorded quiet-run
       |  history × 1.5 headroom, floored at 3.0 (`boundFor`). One-way by
       |  design — never auto-rebaselined from the latest run, so a slow
       |  regression cannot ratchet its own bound up. Queries without history
       |  fall back to the blanket `1.2 × copies`.
       |- `write_path` — E1's real sink (read → kernel → dynamic-partition
       |  overwrite) at base and ×$Copies: `e1_write_month_{t_base,t_scale,
       |  ratio,rerun_diff_rows}`; a second identical write must diff 0 rows
       |  (idempotency at scale).
       |- `index_build` — `d17_index_build_{base,scale}_sec` and
       |  `d17_index_build_ratio`: d17's one-time persisted-index build,
       |  forced from scratch per side (min of 2 — a single-shot write
       |  has no retry machinery, and contamination only inflates) and
       |  timed as its OWN gated entry: the ratio ratchet applies at ×10
       |  (stable base); at ×100 the gate is the ABSOLUTE scale-side
       |  bound `d17_index_build_abs_scale_bound` instead — the base is a
       |  fully-cached 1-3 s write swinging 2.6× while the scale side is
       |  stable, the AbsoluteScale100Sec reasoning
       |  (round-12 verdict #2 — the warm-run approach hid build
       |  regressions). The build writes the history band/shingle tables
       |  as bucketed EXTERNAL tables with a spec file (schema DDL +
       |  source fingerprint), so a fresh JVM RE-REGISTERS over the
       |  existing files instead of rebuilding — build-once across
       |  processes, not per process. `s16_index_build_{base,scale}_sec`
       |  / `_ratio` apply the same protocol to the persisted VECTOR
       |  index (round-13 verdict #1): forced from-scratch train + encode
       |  + bucketed codes write per side, min of 2, ratio-gated at ×10
       |  and absolute-bounded at ×100
       |  (`s16_index_build_abs_scale_bound`, $PqIndexBuildAbsScale100Sec s).
       |  `s17_delta_append_{base,scale}_sec` / `_ratio` time the forced
       |  frozen-spec DELTA append (round-14 verdict #1): encode the 10%
       |  delta slice against the spec-file codebooks, write the bucketed
       |  delta segment — no Lloyd jobs, no corpus scan. At ×100 the
       |  delta-sized claim is gated twice: absolutely
       |  (`s17_delta_append_abs_scale_bound`, $PqDeltaAppendAbsScale100Sec
       |  s — worst of the first three same-HEAD readings × 1.5) and as
       |  `s17_delta_append_vs_build` — the append's
       |  fraction of the SAME run's forced s16 full build, bounded by
       |  `s17_delta_append_vs_build_bound` ($PqDeltaAppendVsBuild100Bound:
       |  a path that quietly retrains or re-encodes the corpus fails even
       |  with absolute headroom). At ×10 the fraction is recorded, not
       |  gated — both sides are fixed-overhead-dominated there. When no
       |  s16 build row exists in the run the skip is EXPLICIT (ADVICE
       |  r15 #2): a violation if s16 ran and failed to record, else the
       |  `s17_delta_append_vs_build_skipped` marker row.
       |  `s18_compact_{base,scale}_sec` / `_ratio` time the forced
       |  segment FOLD (round-15 verdict #3 — the lifecycle's third
       |  step): base codes ∪ delta segment rewritten into ONE bucketed
       |  generation, a pure rewrite of frozen codes (SimilaritySpec pins
       |  zero training/encode jobs; fold == one-shot union encode row
       |  for row). Ratio-gated at ×10, absolute-bounded at ×100
       |  (`s18_compact_abs_scale_bound`, $PqCompactAbsScale100Sec s).
       |- `bpe_rounds` — t24's merge-loop FLATNESS demonstration (×10
       |  only): `t24_round_{firstq,lastq}_sec` are the mean per-round
       |  seconds over the first and last quarters of a
       |  $BpeFlatRounds-round training run on the scale-side corpus;
       |  `t24_round_flatness` (lastQ/firstQ) must stay ≤
       |  `t24_round_flatness_bound` ($BpeFlatnessBound). Per-round cost
       |  growing with the ROUND INDEX — the plan-depth failure mode
       |  production 30–50k-merge training would hit without bpeMerges'
       |  per-${graft.operators.TextAnalysis.BpeCheckpointEvery}-round
       |  lineage truncation — inflates only the numerator; contamination
       |  inflates both quarters together, so the statistic needs no retry
       |  machinery.
       |- `foreign_ticks` — CPU ticks burned by OTHER processes on the box
       |  during each query's measurements (host busy minus this process's
       |  own utime+stime minus hypervisor steal, which `steal_ticks`
       |  records; the steal counter alone misses in-VM processes).
       |  Concurrent JVM workloads convoy the big hash aggregates up to 20×
       |  on a byte-identical plan — a blown ratio with hot foreign_ticks is
       |  contamination, not a regression (docs/LADDER_INVESTIGATION.md).
       |  Caveat: kernel worker threads count as "foreign", so IO-heavy
       |  entries (the q48 streaming drain flushing checkpoints) self-report
       |  their own flusher load here — read against the entry's nature.
       |- `lsh_occupancy` — `s02_cand_per_probe_{base,scale}`: expected
       |  same-bucket candidates per probe (Σ n_b² / n over bucket sizes).
       |  With corpus-scaled planes (`Similarity.planesFor`) the scale value
       |  must stay within 3× of base; a fixed bucket space would grow it
       |  ≈×copies (violation).
       |- `band_occupancy` — `d03_band_cand_per_doc_{base,scale}` and
       |  `d04_block_cand_per_doc_{base,scale}`: candidate pairs per doc
       |  from the MinHash band / SimHash block equi-joins under each
       |  directory's corpus-scaled parameters (`Dedup.bandParamsFor`,
       |  `Dedup.blockBitsFor`). Same 3× flatness contract as
       |  `lsh_occupancy`.
       |- `fuzzy_occupancy` — `d15_fuzzy_cand_per_doc_{base,scale}`:
       |  candidate pair mass per doc over d15's df-capped gram posting
       |  lists (Σ C(df,2) with df ≤ FuzzyMaxGramDf). Same 3× flatness
       |  contract — growth means the posting-list cap stopped binding.
       |- `serve_occupancy` — `q58_serve_cand_per_{probe,ring_row}_{base,scale}`:
       |  candidate JOIN rows for q58's online serving path (staged probe
       |  batch vs the cell-pruned base ∪ delta read), recorded both per
       |  PROBE (raw — grows ~(1 + refine bits) by design: the multi-probe
       |  ring is the deliberate log-factor recall remedy) and per RING
       |  ROW (the refined-cell population). The 3× flatness contract
       |  rides the per-ring-row number — growth there means the
       |  refined-cell population is riding the corpus again.
       |- `ivf_recall` — `s0{5,6}_recall_{base,scale,floor}`: sampled
       |  ground-truth recall@k of the refined-cell IVF join and its
       |  multi-probe variant on both sides (the declared s10–s12 gauges
       |  only run where `cellRefineBits` = 0, so this is the only
       |  measurement of cell refinement's recall cost at scale). PRIMARY
       |  bound: the recorded ABSOLUTE floors, scale-dependent since
       |  round 14 (at THIS gate scale s05 ≥ ${IvfRecallFloor(0)},
       |  s06 ≥ ${IvfRecallFloor(1)}; at ×100 both floors are 0.20,
       |  pinning the nprobe-2 + radius-2 level 0.302/0.302 — a silent
       |  fallback to nprobe-1 (0.178), single-flip (0.108) or the
       |  round-11 single-sub-bucket defect (0.05) all FAIL there).
       |  Secondary: scale ≥ 0.4× base (collapse check).
       |- `streaming_floor` — the machinery floor (epsilon-probe drain
       |  seconds, min of 2) subtracted from BOTH sides of each streaming
       |  gate entry (q48), so its ratio reflects data-dependent work rather
       |  than checkpoint/commit latency. Also carries the UN-FLOORED
       |  per-side minima (`<q>_t_base_raw` / `<q>_t_scale_raw` — the
       |  reproducible numbers when the floor-subtracted residual is
       |  jitter-dominated) and, when drain jitter makes floor ≥ the raw
       |  base drain, the explicit `<q>_floor_ge_base` marker: the ratio is
       |  undefined there (denominator clamped), so the gate checks the
       |  absolute scale-side data time (10 s bound) instead of emitting a
       |  phantom ratio violation. A floored-ratio violation is WAIVED to a
       |  recorded `<q>_ratio_suspect` marker only when BOTH the raw ratio
       |  stays ≤ $StreamingRawRatioBound AND the floored scale-side data
       |  time stays ≤ $StreamingWaiverAbsScaleSec s (ADVICE r11 #3 — the
       |  raw ratio alone could bless a several-fold data-time regression
       |  in the floor-dominated regime).
       |- `violations` — ratio bounds, plan shapes (cartesian/BNLJ/lost
       |  rule-index probe), pinned-RDD leaks, write-path idempotency,
       |  LSH occupancy boundedness.
       |
       |Current ratcheted bounds (recorded quiet ratio → bound):
       |
       || gate query | recorded ×10 ratio | bound |
       ||---|---|---|
       |$boundRows
       |
       |## SCALE_SMOKE_x100.json — the ×100 demonstration
       |
       |Same gate with `SPARK_GRAFT_SCALE_COPIES=100` (60M lineitem rows, 500k
       |docs, 1M events): completion without driver OOM within the per-query
       |bounds is the assertion. Past ×10 every per-query time is the MINIMUM
       |of `SPARK_GRAFT_SCALE_MINOF` (default 3) runs per side — memory
       |pressure mixes cache-eviction variance into single runs, and minima
       |are the steal/eviction-immune statistic (contamination only inflates).
       |A roomy-driver companion (16g) separates memory-bound from
       |algorithmic scaling.
       |
       |×100 bounds are RATCHETED per query (round-10 verdict #6 — the old
       |flat 120 would not have caught a 2× regression anywhere): max of the
       |two committed same-HEAD artifacts (4g and 16g — the bound holds in
       |both memory regimes) × 1.5 headroom, floored at 6.0; same one-way
       |discipline as the ×10 ratchet. Queries without ×100 history fall
       |back to the blanket `1.2 × copies`.
       |
       |The MinHash-machinery family (d03/d07/c01/d09/d16) additionally
       |carries ABSOLUTE ×100 scale-side bounds (ADVICE r11 #2): its ratio
       |denominators are ~4-6 s base reads whose page-cache state swings
       |1.5× while the scale sides are stable, so (a) `t_scale` above the
       |recorded absolute bound (worst committed quiet reading × 1.5) is a
       |violation even when a deflated base keeps the ratio green, and (b)
       |a RATIO violation downgrades to a recorded suspect ONLY when two
       |statistics agree it is base-side spread (ADVICE r12): `t_scale`
       |inside its absolute bound AND `t_base` BELOW its recorded quiet
       |minimum (a deflated base — the downgrade's premise, now checked
       |rather than assumed). Downgraded batch queries are published under
       |the artifact's own `ratio_suspects` key (streaming waivers keep
       |their `<q>_ratio_suspect` markers inside `streaming_floor`).
       |
       |Ratchet derivation protocol (round-12 verdict #1): a newcomer's
       |ratchet is the max of the two same-HEAD committed artifacts —
       |UNLESS the query's artifact windows are contamination-logged
       |(foreign-tick warnings in the run log), in which case the ratchet
       |derives from a quiet ISOLATED fresh-JVM probe
       |(`SPARK_GRAFT_SCALE_ONLY=<q>`) instead: the bound must encode the
       |quiet number (d14's contaminated pair read 70/63 s where the
       |isolated probe read 30.4 s — a ratchet from the noisy max would
       |pass a real ~2.9× regression).
       |
       |`excluded_by_design` (round-10 verdict #8) records the entries the
       |×100 artifact deliberately omits — the d02 brute-force foil
       |(superlinear by construction; d08 is the production path) and the
       |single-micro-batch streaming entry (gated at ×10) — so a missing
       |query is documented, never mysterious.
       |
       |## SCALE_ADVERSARIAL.json — the mutual-duplication stress
       |
       |`ensureAdversarialData` builds the MIXED worst-case corpus: the base
       |sf0.1 documents verbatim PLUS $Copies mutual exact-duplicate copies of
       |a token-rewritten (shingle-disjoint) boilerplate block. Fields:
       |
       |- `naive_candidate_pairs[_base]` — d02's inverted-index candidate mass
       |  (Σ C(df,2) over shingle document frequencies), computed WITHOUT
       |  running the join; must explode ≥ ×copies²/2 over base or the fixture
       |  lost its duplication.
       |- `stoplist_candidate_pairs[_base]` — the same mass after d08's
       |  df-cutoff; must stay ≤ 128 × docs (linear — the per-doc budget is
       |  O(shingles per doc), ~74 on the healthy corpus).
       |- `d03_band_candidate_pairs` / `d09_band_candidate_pairs` — the
       |  signature-scheme analog (band-bucket C(n,2) mass), naive vs
       |  stop-listed.
       |- `d08_sec` — the stop-listed join end-to-end on the adversarial
       |  corpus.
       |- `d08_base_pairs`, `d08_signal_missing`, `d08_signal_extra` — the
       |  SIGNAL check: d08 on the mixed corpus restricted to base ids must
       |  equal d08 on the base corpus exactly (missing = extra = 0), proving
       |  the stop-list bounds cost without dropping real near-dup pairs.
       |- `d14_span_pair_mass_{naive,stoplist}[_base]` — the same story at
       |  d14's span-window granularity (round-11 verdict #6): Σ C(df,2)
       |  over window-hash document frequencies, naive vs under the
       |  SpanMaxDf cutoff. Naive must explode ≥ ×copies²/2 over base;
       |  stop-listed must stay ≤ 256 × docs.
       |""".stripMargin
  }

  /** Host CPU counters from one parse of the aggregate `cpu ` line of
    * /proc/stat: (busy, steal), -1 each if unreadable. Busy is
    * user+nice+system+irq+softirq+steal across all cpus. The busy delta
    * over a measurement, minus THIS process's own utime+stime delta and
    * the steal delta, is FOREIGN load ([[Measure.foreignTicks]]) — CPU
    * eaten by concurrent processes on the box. The steal counter only
    * sees the hypervisor; in-VM oversubscription (a second 32-thread JVM)
    * is invisible to it, yet it is exactly the trigger that convoys the
    * ladder-class hash aggregates 8-20× (docs/LADDER_INVESTIGATION.md). */
  private[graft] def hostTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+")
        finally src.close()
      if (f.length > 8)
        (f(1).toLong + f(2).toLong + f(3).toLong + f(6).toLong + f(7).toLong + f(8).toLong,
          f(8).toLong)
      else (-1L, -1L)
    } catch { case _: Exception => (-1L, -1L) }

  private[graft] def hostBusyTicks(): Long = hostTicks()._1
  private[graft] def stealTicks(): Long = hostTicks()._2

  /** This process's fault and CPU counters (utime/stime in USER_HZ ticks),
    * -1 each when /proc/self/stat is unreadable. */
  final case class SelfStat(minflt: Long, majflt: Long, utime: Long, stime: Long) {
    def busy: Long = if (utime < 0 || stime < 0) -1L else utime + stime
    def -(o: SelfStat): SelfStat =
      SelfStat(minflt - o.minflt, majflt - o.majflt, utime - o.utime, stime - o.stime)
  }

  private[graft] def selfStat(): SelfStat =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/self/stat")))
      // comm may contain spaces/parens — fields start after the last ')';
      // post-comm 0-indexed: minflt=7, majflt=9, utime=11, stime=12
      val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
      SelfStat(f(7).toLong, f(9).toLong, f(11).toLong, f(12).toLong)
    } catch { case _: Exception => SelfStat(-1L, -1L, -1L, -1L) }

  /** This process's own utime+stime ticks. */
  private[graft] def ownBusyTicks(): Long = selfStat().busy

  private def violationsJson(vs: Seq[String]): String =
    vs.map("\"" + Measure.jsonEscape(_) + "\"").mkString("[", ",", "]")

  /** Shape violations in a 10×-scale plan: a cartesian/nested-loop join
    * anywhere, or (kernel queries) a lost rule-index probe. Mirrors
    * PlanSpec's assertions so the same contract is checked at both scales. */
  private def planViolations(name: String, plan: SparkPlan): Seq[String] = {
    // q47 resolves through Auto — on the metadata-scale demo dim the pick
    // MUST be Broadcast, so it owes the same rule-index probe as q21/q22 (a
    // flip to Shuffle at scale would trip the probe assertion: exactly
    // the regression this pin exists to catch)
    val isKernel = name == "q22_kernel_full" || name == "q21_rule_match" ||
      name == "q47_rule_match_auto"
    // BNLJ operators counted structurally (PlanShape walks each executed
    // node once). The kernel's demo dim is BUILT with a bounded broadcast
    // cross join (41 rules × distinct months, both sides driver-memoized
    // metadata). The ladder collects the dim into its rule index before
    // the fact plan exists, so q21/q22/q47 carry no BNLJ; q40's shuffle
    // fallback plans the dim construction once, in its tall-dim subtree.
    // Anything beyond that — or any BNLJ in the corpus queries — is a real
    // scale hazard. q40 gets the construction allowance but NOT the kernel
    // shape: its whole point is resolving the rules without broadcasting
    // the dim.
    val bnlj = PlanShape.count[BroadcastNestedLoopJoinExec](plan)
    val bnljAllowed = if (name == "q40_rule_match_shuffle") 1 else 0
    val common = Seq(
      "CartesianProduct" -> (PlanShape.count[CartesianProductExec](plan) > 0),
      s"BroadcastNestedLoopJoin ($bnlj > $bnljAllowed allowed)" -> (bnlj > bnljAllowed)
    ).collect { case (msg, true) => msg }
    common ++ (if (isKernel) PlanShape.kernelViolations(plan) else Nil)
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    // ×100 under the 4 GiB driver is 30–60× LESS memory per core than any
    // real executor (local[32]@4g = 128 MB/core vs a cluster's 4–8 GB).
    // A memory-constrained executor is provisioned with fewer task slots,
    // not more heap — so past ×10 the default drops to 16 slots (256
    // MB/core; env-overridable), spill read-ahead buffers are disabled
    // (each reader costs 2×1 MB and a wide agg can hold dozens open), and
    // shuffle partitions scale with the DATA so per-task sort state stays
    // flat (the q22/d02 OOMs at ×100 were 32 slots × ×100-sized
    // partitions). AQE coalesces the excess partitions at small scale.
    val cpus = Measure.cpus(if (Copies > 10) 16 else 32)
    val shufflePartitions = math.max(cpus, math.min(512, 32 * Copies / 10))
    val spark = Measure.session(cpus,
      Seq("spark.sql.shuffle.partitions" -> shufflePartitions.toString) ++
        (if (Copies > 10) Seq("spark.unsafe.sorter.spill.read.ahead.enabled" -> "false")
         else Nil): _*)
    val heap = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    System.err.println(s"[scale] driver heap ${heap}MB, base=$base")

    // SPARK_GRAFT_SCALE_DIAG=1: per-measurement process CPU/fault deltas
    // from /proc/self/stat (utime/stime in USER_HZ ticks, minor/major
    // faults) on stderr — the discriminator for the ladder investigation
    // (slow runs bill ~1.1k CPU-s of SYSTEM time on ~50 s wall; see
    // docs/LADDER_INVESTIGATION.md).
    val diagOn = sys.env.get("SPARK_GRAFT_SCALE_DIAG").contains("1")
    def timed(f: => Unit): Measure.Timing = {
      val t = Measure.timed(spark)(f)
      if (diagOn) {
        val hz = 100.0 // USER_HZ on linux
        System.err.println(
          f"[diag] wall=${t.sec}%.2fs utime=${t.self.utime / hz}%.1fs " +
            f"stime=${t.self.stime / hz}%.1fs " +
            s"minflt=${t.self.minflt} majflt=${t.self.majflt}")
      }
      t
    }

    // one-off adversarial-duplication mode: candidate-pair accounting on
    // the mutually-duplicated corpus, then exit (run with
    // SPARK_GRAFT_SCALE_ADVERSARIAL=1 or arg "adversarial")
    if (sys.env.get("SPARK_GRAFT_SCALE_ADVERSARIAL").contains("1") ||
        args.contains("adversarial")) {
      val adv = ensureAdversarialData(spark, base)
      var v = Vector.empty[String]
      val (naiveBase, stoppedBase, docsBase) = Dedup.candidatePairStats(spark, base)
      val (naive, stopped, docs) = Dedup.candidatePairStats(spark, adv)
      // the signature-scheme side of the same story (d03 vs d09): band
      // buckets of identically-signed copies go quadratic; the stop-listed
      // signatures stay bounded
      val (bandNaive, bandStopped) = Dedup.bandCandidateStats(spark, adv)
      if (bandStopped > 128L * docs)
        v :+= s"adversarial: d09 band candidates $bandStopped > 128×docs ($docs)"
      // d08 end-to-end on the adversarial corpus — the stop-listed join
      // must COMPLETE comfortably (its candidate mass is `stopped`)
      val d08fn = SparkEntry.queries("d08_dedup_stoplist")
      val tD08 = timed(Measure.noop(d08fn(spark, adv))).sec
      // SIGNAL preservation (ADVICE r7): the boilerplate block is shingle-
      // disjoint from the base, so the base corpus's document frequencies
      // are untouched — d08 on the mixed corpus restricted to base ids
      // must equal d08 on the base corpus EXACTLY. This is what the old
      // all-verbatim fixture couldn't check (it emptied the whole index:
      // boundedness proven, discrimination not) — the stop-list must bound
      // cost while KEEPING every real near-dup pair.
      val basePairs = d08fn(spark, base)
      val advBasePairs = d08fn(spark, adv)
        .filter(col("id_a") < IdShift && col("id_b") < IdShift)
      val d08BaseN = basePairs.count()
      val signalMissing = basePairs.exceptAll(advBasePairs).count()
      val signalExtra = advBasePairs.exceptAll(basePairs).count()
      if (signalMissing + signalExtra != 0)
        v :+= s"adversarial: d08 signal lost on the mixed corpus " +
          s"($signalMissing missing, $signalExtra extra of $d08BaseN base pairs)"
      if (d08BaseN == 0)
        v :+= "adversarial: base corpus has no d08 pairs — the signal check is vacuous"
      // the assertion: stop-listed candidates stay LINEAR in the corpus.
      // Candidate mass counts per-shingle multiplicity, so a doc pairing
      // with its twin through ~70 shared shingles contributes ~70 — the
      // base corpus runs ~74/doc (ScaleSmokeSpec pins this), i.e. the
      // budget is O(shingles per doc), NOT O(corpus). 128/doc holds that
      // shape; the naive index on the duplicated corpus is ~Copies×
      // worse PER DOC (quadratic in total), far outside it. Mutual exact
      // copies are d01's job (hash dedup); the stop-list's job is
      // bounding the candidate join, which is exactly what this checks.
      if (stopped > 128L * docs)
        v :+= s"adversarial: stop-listed candidates $stopped > 128×docs ($docs)"
      // and the regime must actually BE adversarial, or the numbers above
      // prove nothing: naive candidate mass per doc grows ~×Copies
      if (naive < naiveBase * Copies.toLong * Copies.toLong / 2)
        v :+= s"adversarial: naive candidate mass $naive did not explode (base $naiveBase) — fixture lost its duplication"
      // d14's window index under the same boilerplate regime (round-11
      // verdict #6): every boilerplate window's df ≥ copies, so the naive
      // pair mass explodes quadratically in copies while the stop-listed
      // mass must stay within the base corpus's per-doc shape (twin pairs
      // share ~n_tokens−7 windows each, so the budget is O(windows per
      // doc) — the d08 128×docs convention at span granularity).
      val (spanNaiveBase, spanStoppedBase, _) = Dedup.spanPairMassStats(spark, base)
      val (spanNaive, spanStopped, spanDocs) = Dedup.spanPairMassStats(spark, adv)
      if (spanStopped > 256L * spanDocs)
        v :+= s"adversarial: d14 stop-listed span pair mass $spanStopped > 256×docs ($spanDocs)"
      if (spanNaive < spanNaiveBase * Copies.toLong * Copies.toLong / 2)
        v :+= s"adversarial: d14 naive span pair mass $spanNaive did not explode (base $spanNaiveBase) — fixture lost its span duplication"
      val json =
        s"""{"copies":$Copies,"base":"$base","mode":"adversarial",""" +
          s""""docs_base":$docsBase,"docs":$docs,""" +
          s""""naive_candidate_pairs_base":$naiveBase,"naive_candidate_pairs":$naive,""" +
          s""""stoplist_candidate_pairs_base":$stoppedBase,"stoplist_candidate_pairs":$stopped,""" +
          s""""d03_band_candidate_pairs":$bandNaive,"d09_band_candidate_pairs":$bandStopped,""" +
          s""""d08_sec":$tD08,"d08_base_pairs":$d08BaseN,""" +
          s""""d08_signal_missing":$signalMissing,"d08_signal_extra":$signalExtra,""" +
          s""""d14_span_pair_mass_naive_base":$spanNaiveBase,"d14_span_pair_mass_naive":$spanNaive,""" +
          s""""d14_span_pair_mass_stoplist_base":$spanStoppedBase,"d14_span_pair_mass_stoplist":$spanStopped,""" +
          s""""violations":${violationsJson(v)}}"""
      println(json)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("SCALE_ADVERSARIAL.json"), json + "\n")
      catch { case e: Exception => System.err.println(s"[scale] write failed: $e") }
      spark.stop()
      if (v.nonEmpty) {
        System.err.println(s"[scale] ADVERSARIAL FAILED:\n  ${v.mkString("\n  ")}")
        sys.exit(1)
      }
      return
    }

    val dir = ensureData(spark, base)
    try Measure.noop(SparkEntry.entry(spark)) // absorb JVM/codegen init
    catch { case e: Throwable => System.err.println(s"[scale] warmup failed: $e") }

    var violations = Vector.empty[String]
    // 3 (was 2): an observed host foreign-load burst spanned ~2 minutes
    // (11,695 ticks through q48's window, 679 through d14's) and outlived
    // two escalating-backoff retries (30+60 s); a third retry (+90 s)
    // clears episodes of that length. Retries fire only on violation, so
    // quiet runs pay nothing.
    val maxRetries = sys.env.getOrElse("SPARK_GRAFT_SCALE_RETRIES", "3").toInt
    // SPARK_GRAFT_SCALE_ONLY=a,b isolates a subset in a FRESH JVM (local
    // iteration on one query's scaling, or separating a real regression
    // from cumulative-heap contagion of the 18-query sequence). Partial
    // runs never overwrite the canonical artifact (see outName below).
    val onlySubset = sys.env.get("SPARK_GRAFT_SCALE_ONLY").map(_.split(",").toSet)
    // SPARK_GRAFT_SCALE_ORDER=ladder_last reproduces the late-sequence
    // ladder-class pathology deliberately (docs/LADDER_INVESTIGATION.md):
    // the cohort that normally runs first moves to the END, the position
    // where byte-identical plans intermittently timed 8-19×.
    val ladderClass = Set("q22_kernel_full", "q21_rule_match",
      "q47_rule_match_auto", "q40_rule_match_shuffle")
    // past ×10, the by-design exclusions apply ([[ExcludedPast10x]]: the
    // declared d02 brute-force foil, the single-micro-batch streaming
    // entry) — recorded in the artifact so their absence is documented,
    // not mysterious
    val gateSet0 = GateQueries
      .filter(n => onlySubset.forall(_.contains(n)))
      .filterNot(n => Copies > 10 && ExcludedPast10x.contains(n))
    val gateSet = sys.env.get("SPARK_GRAFT_SCALE_ORDER") match {
      case Some("ladder_last") =>
        val (lad, rest) = gateSet0.partition(ladderClass)
        rest ++ lad
      case _ => gateSet0
    }
    // streaming gate entries: their epsilon-probe (fixed drain floor) —
    // measured per entry before timing, subtracted from both sides
    val streamingProbes: Map[String, (SparkSession, String) => DataFrame] = Map(
      "q48_sessionize_append_sink" -> graft.streaming.StreamQueries.q48MachineryProbe,
      "q58_ann_stream_enrich" -> graft.streaming.StreamQueries.q58MachineryProbe,
      "q59_ann_stream_filtered" -> graft.streaming.StreamQueries.q59MachineryProbe)
    var streamingFloors = Vector.empty[(String, Double)]
    // non-streaming ratio violations downgraded by the ×100 two-statistic
    // rule (deflated base + in-envelope scale side) — published under
    // their own artifact key, `ratio_suspects`, so artifact readers that
    // parse sections by meaning don't find batch queries filed under
    // `streaming_floor` (ADVICE r12)
    var ratioSuspects = Vector.empty[(String, Double)]
    // d17's forced from-scratch index build per side (its own gated
    // timing entry — round-12 verdict #2), published as `index_build`
    var indexBuildRows = Vector.empty[(String, Double)]
    var bpeRoundsRows = Vector.empty[(String, Double)]
    // foreign-load accounting per gate query (ladder investigation): CPU
    // burned by OTHER processes during this query's measurements. A
    // foreign-hot measurement is contaminated — the convoy it induces in
    // the big hash aggregates inflates wall time up to 20× on a
    // byte-identical plan, with zero steal. Recorded in the artifact so a
    // blown ratio is diagnosable as contamination vs regression.
    val foreignByQuery = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def timedQ(name: String)(f: => Unit): (Double, Long) = {
      val t = timed(f)
      if (t.foreign >= 0) {
        foreignByQuery(name) = foreignByQuery.getOrElse(name, 0L) + t.foreign
        // > ~half a core for the whole run, floored at 25 ticks so
        // sub-second runs don't flag harness noise
        if (t.foreign > math.max((t.sec * 50).toLong, 25L))
          System.err.println(
            f"[scale] $name: foreign host load ${t.foreign} ticks during a " +
              f"${t.sec}%.1f s run — concurrent process, measurement suspect")
      }
      (t.sec, t.steal)
    }
    // one [[ForcedBuild]] entry: min of 2 forced runs per side, published
    // under `index_build`; returns the scale-side seconds when it passed
    // its status check
    def forcedBuild(fb: ForcedBuild): Option[Double] =
      try {
        def min2(d: String): (String, Double) = (1 to 2).map(_ => fb.run(spark, d)).minBy(_._2)
        val (mb, sb) = min2(base)
        val (ms, ss) = min2(dir)
        if (mb != fb.expect || ms != fb.expect) {
          violations :+= s"${fb.entry}: forced run did not return ${fb.expect} (base=$mb, scale=$ms)"
          None
        } else {
          val br = ss / math.max(sb, 0.001)
          System.err.println(f"[scale] ${fb.entry}: base $sb%.2fs scale $ss%.2fs ratio $br%.2f")
          indexBuildRows ++= Seq(s"${fb.entry}_base_sec" -> sb,
            s"${fb.entry}_scale_sec" -> ss, s"${fb.entry}_ratio" -> br)
          if (Copies == 100) {
            indexBuildRows :+= (s"${fb.entry}_abs_scale_bound" -> fb.absScale100)
            if (ss > fb.absScale100)
              violations :+= f"${fb.entry}: scale-side run $ss%.1f s exceeds the absolute x100 bound ${fb.absScale100}%.1f s"
          } else violations ++= ratioViolation(fb.entry, br)
          Some(ss)
        }
      } catch { case e: Throwable =>
        violations :+= s"${fb.entry}: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
      }
    val rows = gateSet.map { name =>
      System.err.println(s"[scale] gate query: $name")
      foreignByQuery(name) = 0L
      val fn = SparkEntry.queries(name)
      val floor = streamingProbes.get(name).map { probe =>
        val f = (1 to 2).map(_ => timed(Measure.noop(probe(spark, base))).sec).min
        System.err.println(f"[scale] $name machinery floor: $f%.2fs")
        streamingFloors :+= (s"${name}_floor" -> f)
        f
      }.getOrElse(0.0)
      // un-floored observations per side (ADVICE r10: the artifact must
      // carry the raw drain times, or a floor-swallowed base — ratio
      // denominator clamped to 0.001 — reads as an inexplicable blowup);
      // index 0 = base, 1 = scale
      val rawMin = Array(Double.MaxValue, Double.MaxValue)
      def cal(side: Int)(m: () => (Double, Long)): () => (Double, Long) = () => {
        val (t, s) = m()
        if (floor > 0 && t < rawMin(side)) rawMin(side) = t
        (math.max(t - floor, 0.001), s)
      }
      // the forced build runs first, so this entry's timed runs below
      // measure the read-back shape against the freshly built index
      val forced = ForcedBuilds.find(_.gateQuery == name).flatMap(forcedBuild)
      // s17's delta-sized claim is gated at ×100 a second time, as a
      // fraction of the SAME run's forced s16 full build (recorded a few
      // entries earlier in this gate order): a path that quietly retrains
      // or re-encodes the corpus fails it even with absolute headroom
      if (name == "s17_ivfpq_append") forced.foreach { ss =>
        indexBuildRows.toMap.get("s16_index_build_scale_sec") match {
          case Some(bld) =>
            val frac = ss / math.max(bld, 0.001)
            indexBuildRows :+= ("s17_delta_append_vs_build" -> frac)
            if (Copies == 100) {
              indexBuildRows :+= ("s17_delta_append_vs_build_bound" -> PqDeltaAppendVsBuild100Bound)
              if (frac > PqDeltaAppendVsBuild100Bound)
                violations :+= f"s17_delta_append: scale-side append $ss%.1f s is $frac%.2f of the full build $bld%.1f s — not delta-sized (> $PqDeltaAppendVsBuild100Bound)"
            }
          case None =>
            // ADVICE r15 #2: a silently skipped fraction gate read as
            // "gated twice" in the report — make the skip VISIBLE. If
            // s16 ran in this gate set but produced no build row, its
            // own violation is already recorded and the fraction claim
            // is genuinely unverified — fail loudly at ×100. A subset
            // run that deliberately omitted s16 records the skip.
            if (Copies == 100 && gateSet.contains("s16_ivfpq_indexed"))
              violations :+= "s17_delta_append: vs_build fraction gate SKIPPED — s16 ran but recorded no build row"
            else {
              indexBuildRows :+= ("s17_delta_append_vs_build_skipped" -> 1.0)
              System.err.println(
                "[scale] s17 vs_build fraction not gated: no s16 build row in this run")
            }
        }
      }
      // t24's production-merge-count claim is a GATED FLATNESS ENTRY
      // (round-13 verdict #4): the 8-round oracle entry cannot see the
      // plan-depth failure mode 30–50k merges would hit — one `replace`
      // projection stacked per round makes analyzer time grow with the
      // round index. bpeMerges now truncates lineage every
      // BpeCheckpointEvery rounds (localCheckpoint, eager); THIS entry
      // executes the claim: BpeFlatRounds rounds over the scale-side
      // corpus, gating last-quarter mean per-round seconds against the
      // first quarter. ×10 only — the claim is about ROUND-index growth,
      // which Copies does not change, and ×100 would pay 64 vocab-scale
      // rounds for no additional evidence.
      if (name == "t24_bpe_train" && Copies == 10) {
        try {
          // one untimed warm round first (ADVICE r14): round 1 of a cold
          // loop absorbs the bpeWords scan + pair-agg codegen init, which
          // inflates firstQ and loosens the flatness gate in the LENIENT
          // direction — the stat must measure round-index growth only
          graft.operators.TextAnalysis.bpeMerges(spark, dir, rounds = 1)
          val per = scala.collection.mutable.ArrayBuffer.empty[Double]
          val t0 = System.nanoTime()
          val ms = graft.operators.TextAnalysis.bpeMerges(
            spark, dir, rounds = BpeFlatRounds, perRoundSec = Some(per))
          val total = (System.nanoTime() - t0) / 1e9
          if (ms.size < BpeFlatRounds)
            violations :+= s"t24_bpe_rounds: corpus exhausted at round ${ms.size} of $BpeFlatRounds — flatness claim untestable on this data"
          else {
            val q = BpeFlatRounds / 4
            val firstQ = per.take(q).sum / q
            val lastQ = per.takeRight(q).sum / q
            val flat = lastQ / math.max(firstQ, 1e-9)
            System.err.println(
              f"[scale] t24 $BpeFlatRounds-round flatness: firstQ $firstQ%.3f s/round, lastQ $lastQ%.3f, ratio $flat%.2f (total $total%.1f s)")
            bpeRoundsRows ++= Seq(
              "t24_rounds" -> BpeFlatRounds.toDouble,
              "t24_rounds_total_sec" -> total,
              "t24_round_firstq_sec" -> firstQ,
              "t24_round_lastq_sec" -> lastQ,
              "t24_round_flatness" -> flat,
              "t24_round_flatness_bound" -> BpeFlatnessBound)
            if (flat > BpeFlatnessBound)
              violations :+= f"t24_bpe_rounds: per-round cost grows with round index (last-quarter mean $lastQ%.3f s vs first-quarter $firstQ%.3f, ratio $flat%.2f > $BpeFlatnessBound)"
          }
        } catch { case e: Throwable =>
          violations :+= s"t24_bpe_rounds: ${e.getClass.getSimpleName}: ${e.getMessage}"
        }
      }
      // untimed warm run first: the first execution of a query absorbs its
      // codegen + scan init, which would inflate t_base and understate the
      // ratio (observed: q22 cold 16s vs warm 8s at sf0.1)
      try Measure.noop(fn(spark, base))
      catch { case e: Throwable => System.err.println(s"[scale] warm $name: $e") }
      // d17/s16/s17 read their index on BOTH sides — warm the scale side
      // too, so the first timed scale run measures the read-back shape,
      // not scan init against the just-built index
      if (ForcedBuilds.exists(_.gateQuery == name))
        try Measure.noop(fn(spark, dir))
        catch { case e: Throwable => System.err.println(s"[scale] warm-scale $name: $e") }
      // a transient broadcast-build OOM under the deliberately-tight 4 GiB
      // heap (GC pressure + checkpoint pinning from earlier gate queries)
      // must not kill the gate without an artifact: one clean re-attempt,
      // then a recorded violation — the JSON is always written, so a
      // persistent failure is diagnosable from the artifact alone
      def attempt(): (Double, Double, Long, Int) =
        measureWithRetry(name, maxRetries,
          backoffMs = sys.env.getOrElse("SPARK_GRAFT_SCALE_RETRY_BACKOFF_MS", "30000").toLong,
          // ×100 single runs under memory pressure are noise-dominated
          // (round-8 verdict #3) — take per-side minima of N runs there;
          // the ×10 gate keeps single runs + violation-driven retries
          // streaming entries are floor-subtracted, so the base-side
          // denominator is SMALL (≈0.3 s at sf0.1) — min-of-3 both sides
          // keeps drain jitter from swinging the ratio several-fold
          minOf = math.max(if (streamingProbes.contains(name)) 3 else 1,
            sys.env.getOrElse("SPARK_GRAFT_SCALE_MINOF",
              if (Copies > 10) "3" else "1").toInt))(
          cal(0)(() => timedQ(name)(Measure.noop(fn(spark, base)))),
          cal(1)(() => timedQ(name)(Measure.noop(fn(spark, dir)))))
      val (t1, t10, steal, tries) =
        try attempt()
        catch {
          case e: Throwable =>
            System.err.println(s"[scale] $name failed (${e.getMessage}) — one clean retry")
            try attempt()
            catch {
              case e2: Throwable =>
                violations :+= s"$name: ${e2.getClass.getSimpleName}: ${e2.getMessage}"
                (-1.0, -1.0, -1L, -1)
            }
        }
      val plan =
        // a streaming entry's fn returns the SINK READ-BACK (constructing
        // it runs a whole extra drain) — its batch plan shape is just a
        // parquet scan, so there is nothing for planViolations to audit
        if (streamingProbes.contains(name)) None
        else
          try Some(fn(spark, dir).queryExecution.executedPlan)
          catch { case _: Throwable => None }
      // no plan means the query itself failed above — that violation is
      // already recorded; a phantom "probe lost" would be noise
      val pv = plan.toSeq.flatMap(p => planViolations(name, p).map(v => s"$name: $v"))
      // publish the raw (un-floored) per-side minima for streaming
      // entries, and detect the floor-swallowed-base case explicitly
      // (ADVICE r10): when floor ≥ raw base the 0.001 clamp would explode
      // the ratio into a false violation — the ratio is undefined there,
      // so gate on the absolute scale-side data time instead.
      val clamped = floor > 0 && t1 > 0 && t1 <= 0.0015
      if (floor > 0 && rawMin(0) < Double.MaxValue) {
        streamingFloors :+= (s"${name}_t_base_raw" -> rawMin(0))
        streamingFloors :+= (s"${name}_t_scale_raw" -> rawMin(1))
        if (clamped) streamingFloors :+= (s"${name}_floor_ge_base" -> 1.0)
      }
      val ratio = if (t1 > 0) t10 / t1 else -1.0
      val rawRatio =
        if (floor > 0 && rawMin(0) > 0 && rawMin(0) < Double.MaxValue) rawMin(1) / rawMin(0)
        else -1.0
      if (t1 > 0 && !clamped) ratioViolation(name, ratio) match {
        case Some(v) if floor > 0 && streamingWaiverAllows(rawRatio, t10) =>
          // two-statistic rule (see streamingViolationWaived): the floored
          // ratio blew past its bound but the raw per-side minima stayed in
          // their quiet envelope AND the floored scale-side data time is
          // inside its absolute envelope (ADVICE r11 #3: without the
          // latter, a genuine several-fold data-time regression could ride
          // the waiver forever) — record the suspect reading, don't fail
          System.err.println(s"[scale] $name: floored-ratio violation waived " +
            f"(raw ratio $rawRatio%.2f ≤ $StreamingRawRatioBound, " +
            f"t_scale $t10%.2f ≤ $StreamingWaiverAbsScaleSec%.1f) — $v")
          streamingFloors :+= (s"${name}_ratio_suspect" -> ratio)
        case Some(v) if absScale100Downgrades(name, t10, t1, Copies) =>
          // generalized two-statistic rule for the MinHash family at ×100
          // (ADVICE r11 #2, hardened r13 per ADVICE r12): the ratio blew
          // its bound but the scale side is inside its recorded absolute
          // envelope AND the base side is below its quiet minimum — a
          // base-side page-cache artifact, not a scale regression.
          // Recorded under `ratio_suspects` (its own artifact key — these
          // are batch queries, not streaming-floor entries), not fatal;
          // absScale100Violation below still fails real scale growth.
          System.err.println(s"[scale] $name: ratio violation downgraded " +
            f"(t_scale $t10%.1f s inside the absolute x100 bound, " +
            f"t_base $t1%.2f s below its quiet envelope) — $v")
          ratioSuspects :+= (name -> ratio)
        case Some(v) => violations :+= v
        case None => ()
      }
      violations ++= absScale100Violation(name, t10, Copies)
      if (clamped && t10 > 10.0)
        violations :+= f"$name: floor ≥ base drain (ratio undefined) and scale-side data time $t10%.1f s > 10 s absolute bound"
      violations ++= pv
      (name, t1, t10, ratio, steal, tries)
    }

    // one post-loop check: skipped when a SPARK_GRAFT_SCALE_ONLY subset
    // leaves out its gate query; a throw becomes a recorded violation
    def section(gateQuery: String, check: String)(rows: => Seq[(String, Double)]): Seq[(String, Double)] =
      if (onlySubset.exists(!_.contains(gateQuery))) Nil
      else try rows catch { case e: Throwable =>
        violations :+= s"$check: ${e.getClass.getSimpleName}: ${e.getMessage}"
        Nil
      }
    def sides[A](gauge: String => A): (A, A) = (gauge(base), gauge(dir))

    // E1's real sink at scale (round-7 verdict item #5): the gate queries
    // all end in a noop write — this entry runs the headline WRITE shape,
    // read → kernel → dynamic-partition overwrite (Jobs/Sink, the
    // delete+insert twin of main.py:177-202), at base and ×Copies under
    // the same constrained driver, and audits run-twice idempotency AT
    // SCALE with the declared reconciliation operator.
    val writeRows = section("e1_write_month", "e1_write_month") {
      import graft.queries.BillingDemo
      import graft.pipeline.{Jobs, Sink}
      // busiest fact month keeps the written slice meaningful
      val month = graft.tables.Tables.lineitem(spark, base)
        .groupBy(date_format(col("l_shipdate"), "yyyyMM").as("m"))
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("m")).limit(1)
        .collect()(0).getString(0)
      def writeOnce(d: String, tgt: String): Double = timed {
        Sink.writePartitioned(
          Jobs.computeMonth(BillingDemo.fact(spark, d), BillingDemo.dim(spark, d), month),
          tgt)
      }.sec
      val tgtBase = s"$dir/write_base_$month"
      val tgt10 = s"$dir/write_x${Copies}_$month"
      // min of two runs on BOTH sides, or the base pays all the codegen /
      // dim-months cold cost and the ratio reads spuriously sublinear
      val t1 = math.min(writeOnce(base, tgtBase), writeOnce(base, tgtBase))
      val t10 = writeOnce(dir, tgt10)
      spark.read.parquet(tgt10).write.mode("overwrite").parquet(s"${tgt10}_audit")
      val t10again = writeOnce(dir, tgt10)
      val diff = graft.operators.Reconcile.snapshotDiff(
        spark.read.parquet(s"${tgt10}_audit"), spark.read.parquet(tgt10),
        keys = BillingDemo.grain13,
        compareCols = Seq("mode", "cost", "internal_cost",
          "external_consumption", "discount_amount"))
      val diffN = diff.count()
      if (diffN > 0)
        violations :+= s"e1_write_month: re-run at x$Copies changed $diffN rows (idempotency lost)"
      val wratio = math.min(t10, t10again) / t1
      violations ++= ratioViolation("e1_write_month", wratio)
      Seq("e1_write_month_t_base" -> t1, "e1_write_month_t_scale" -> math.min(t10, t10again),
        "e1_write_month_ratio" -> wratio, "e1_write_month_rerun_diff_rows" -> diffN.toDouble)
    }

    // LSH bucket-occupancy boundedness (round-9 verdict #2): with
    // corpus-scaled planes (Similarity.planesFor) the EXPECTED candidates
    // per probe, Σ n_b² / n over bucket sizes n_b, must stay ~flat as the
    // corpus grows ×Copies — a fixed 8-plane bucket space would grow it
    // ≈×Copies (the recorded ×100 signature: s02 ratio 22.5 vs linear
    // cohort ~3). [[occupancyViolation]]'s 3× headroom absorbs
    // occupancy-skew drift between the fixture corpus and its shifted
    // copies.
    val occRows = section("s02_ann_lsh", "bucket-occupancy check") {
      val (cb, cs) = sides(dd =>
        graft.tables.Tables.embeddings(spark, dd)
          .select(Similarity.bucketCol(col("embedding"), Similarity.planesFor(spark, dd)).as("bucket"))
          .groupBy("bucket").count()
          .agg((sum(col("count") * col("count")) / sum(col("count"))).as("cpp"))
          .head().getDouble(0))
      violations ++= occupancyViolation("s02 candidates/probe", cb, cs, "plane scaling lost")
      Seq("s02_cand_per_probe_base" -> cb, "s02_cand_per_probe_scale" -> cs)
    }

    // MinHash-band / SimHash-block occupancy boundedness (round-10 verdict
    // #2 — the d03/d04 members of the fixed-parameter class): candidate
    // pairs PER DOC from the band/block equi-joins, under each directory's
    // own corpus-scaled parameters (Dedup.bandParamsFor / blockBitsFor).
    // Same contract as lsh_occupancy: flat base→scale or the partitioning
    // lost its corpus scaling. On the disjoint-copies gate data the
    // per-doc mass is flat by construction even unscaled — the gauge's
    // real job is catching a parameter-scaling regression, and on real
    // corpora the scaled parameters are what keep the j≈0.3 candidate
    // mass (quadratic under fixed bands) bounded.
    val bandOccRows = section("d03_dedup_minhash", "band-occupancy check") {
      val (bb, bs) = sides(Dedup.bandCandidatesPerDoc(spark, _))
      violations ++= occupancyViolation("d03 band candidates/doc", bb, bs, "band scaling lost")
      val (kb, ks) = sides(Dedup.blockCandidatesPerDoc(spark, _))
      violations ++= occupancyViolation("d04 block candidates/doc", kb, ks, "block scaling lost")
      Seq("d03_band_cand_per_doc_base" -> bb, "d03_band_cand_per_doc_scale" -> bs,
        "d04_block_cand_per_doc_base" -> kb, "d04_block_cand_per_doc_scale" -> ks)
    }

    // d15 gram-index candidate-mass boundedness (round-11 verdict #2):
    // pair mass per doc under the FuzzyMaxGramDf posting-list cap must
    // stay ~flat base→scale (the band-occupancy contract) — the cap
    // bounds every posting list, so growth here means the cutoff stopped
    // binding and the Levenshtein verify's candidate set is no longer
    // delta-sized.
    val fuzzyOccRows = section("d15_fuzzy_join", "fuzzy-occupancy check") {
      val (fb, fs) = sides(Dedup.fuzzyCandidatesPerDoc(spark, _))
      violations ++= occupancyViolation("d15 fuzzy candidates/doc", fb, fs,
        "posting-list cap stopped binding")
      Seq("d15_fuzzy_cand_per_doc_base" -> fb, "d15_fuzzy_cand_per_doc_scale" -> fs)
    }

    // q58 serving-occupancy boundedness (round-15 verdict #2 — "the
    // lsh_occupancy discipline applied to serving"): candidate JOIN rows
    // for the staged probe batch against the cell-pruned base ∪ delta
    // read. The FLATNESS CONTRACT lives on the per-RING-ROW number
    // (candidates per probe-expansion row ≈ the corpus-scaled refined-
    // cell population, TargetCell): the probe RING itself is the
    // deliberate log-factor recall remedy (refineMultiProbe: 1 + bits
    // sub-buckets at ×10, + C(bits,2) past TwoBitFlipMinBits), so raw
    // candidates/probe grows ~(1 + bits) BY DESIGN — the first ever ×10
    // reading (optimization round 17) was 225 → 1152/probe, which is the
    // 4-sub-bucket ring × a FLAT ~280 per ring row, i.e. log-scale
    // per-batch cost, not corpus-scale. Both numbers are recorded; the
    // 3× bound rides the per-ring-row gauge — growth THERE means the
    // refined-cell population is riding the corpus again.
    val serveOccRows = section("q58_ann_stream_enrich", "serve-occupancy check") {
      val ((obProbe, obRing), (osProbe, osRing)) =
        sides(dd => Similarity.annServeCandPerProbe(spark, dd, Similarity.unionProbeVecs(spark, dd)))
      violations ++= occupancyViolation("q58 serving candidates/ring-row", obRing, osRing,
        "refined-cell population is corpus-scale again")
      Seq("q58_serve_cand_per_probe_base" -> obProbe,
        "q58_serve_cand_per_probe_scale" -> osProbe,
        "q58_serve_cand_per_ring_row_base" -> obRing,
        "q58_serve_cand_per_ring_row_scale" -> osRing)
    }

    // IVF recall at scale (ADVICE r10; bounds reworked round-12 per
    // round-11 verdict #4): sampled ground-truth recall of the
    // refined-cell IVF join (s05) and its multi-probe variant (s06) on
    // both sides — the s10–s12 declared gauges only execute where
    // cellRefineBits = 0, so this is the only place the at-scale recall
    // cost of cell refinement is measured. PRIMARY bound: an ABSOLUTE
    // floor per family ([[IvfRecallFloor]]) — the round-11 relative
    // half-of-base bound sat 3% above s05's ×100 reading (one probe-
    // sample wobble from a false violation) and would equally have
    // blessed an absolute 0.05 had base ever degraded; the floors are
    // set from the committed ×100 readings (0.108 / 0.174) at ≥1.5×
    // margin and still catch the single-sub-bucket defect the gauge
    // originally found (s05 read 0.05 < 0.07). SECONDARY: a relative
    // collapse bound at 0.4×base (was 0.5 — the flaky part), for
    // regressions that land between the floor and the quiet reading.
    val ivfRecallRows = section("s09_ivfpq_adc", "ivf-recall check") {
      val ((b05, b06), (s05, s06)) = sides(Similarity.ivfSampleRecall(spark, _))
      for (((nm, r), floor) <- Seq("s05" -> s05, "s06" -> s06).zip(IvfRecallFloor))
        if (r < floor)
          violations :+= f"$nm sampled recall $r%.3f below the absolute floor $floor%.3f at x$Copies"
      if (s05 < 0.4 * b05)
        violations :+= f"s05 sampled recall collapsed at x$Copies: $s05%.3f < 0.4x base $b05%.3f"
      if (s06 < 0.4 * b06)
        violations :+= f"s06 sampled recall collapsed at x$Copies: $s06%.3f < 0.4x base $b06%.3f"
      Seq("s05_recall_base" -> b05, "s05_recall_scale" -> s05,
        "s06_recall_base" -> b06, "s06_recall_scale" -> s06,
        "s05_recall_floor" -> IvfRecallFloor(0), "s06_recall_floor" -> IvfRecallFloor(1))
    }

    // pinned-RDD leak guard: localCheckpoint blocks are unevictable, so an
    // iterative operator that forgets to release superseded rounds (the
    // d07 bug this gate originally caught as an intermittent broadcast
    // OOM) shows up here as unbounded persistent-RDD growth. 24 gate
    // executions legitimately leave ≲1 small final label frame each.
    val leftover = spark.sparkContext.getPersistentRDDs.size
    if (leftover > 64)
      violations :+= s"pinned-RDD leak: $leftover persistent RDDs after the gate"

    def fmt(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val json =
      s"""{"copies":$Copies,"base":"$base","driver_heap_mb":$heap,""" +
        s""""t_base_sec":${fmt(rows.map(r => r._1 -> r._2))},""" +
        s""""t_scale_sec":${fmt(rows.map(r => r._1 -> r._3))},""" +
        s""""ratio":${fmt(rows.map(r => r._1 -> r._4))},""" +
        s""""ratio_bound":${fmt(gateSet.map(n => n -> boundFor(n)) ++
          ForcedBuilds.filter(fb => Copies == 10 && gateSet.contains(fb.gateQuery))
            .map(fb => fb.entry -> boundFor(fb.entry)) :+
          ("e1_write_month" -> boundFor("e1_write_month")))},""" +
        s""""steal_ticks":${rows.map(r => "\"" + r._1 + "\":" + r._5).mkString("{", ",", "}")},""" +
        s""""foreign_ticks":${gateSet.map(n => "\"" + n + "\":" + foreignByQuery.getOrElse(n, -1L)).mkString("{", ",", "}")},""" +
        s""""retries":${rows.map(r => "\"" + r._1 + "\":" + r._6).mkString("{", ",", "}")},""" +
        s""""write_path":${fmt(writeRows)},""" +
        s""""lsh_occupancy":${fmt(occRows)},""" +
        s""""band_occupancy":${fmt(bandOccRows)},""" +
        s""""fuzzy_occupancy":${fmt(fuzzyOccRows)},""" +
        s""""serve_occupancy":${fmt(serveOccRows)},""" +
        s""""ivf_recall":${fmt(ivfRecallRows)},""" +
        s""""streaming_floor":${fmt(streamingFloors)},""" +
        s""""ratio_suspects":${fmt(ratioSuspects)},""" +
        s""""index_build":${fmt(indexBuildRows)},""" +
        s""""bpe_rounds":${fmt(bpeRoundsRows)},""" +
        (if (Copies > 10)
          s""""excluded_by_design":${ExcludedPast10x.toSeq.sorted
            .map { case (k, v) => "\"" + k + "\":\"" + Measure.jsonEscape(v) + "\"" }
            .mkString("{", ",", "}")},"""
        else "") +
        s""""violations":${violationsJson(violations)}}"""
    println(json)
    // SPARK_GRAFT_SCALE_OUT names companion artifacts (e.g. the
    // roomy-driver ×100 run → SCALE_SMOKE_x100_16g.json) without
    // clobbering the canonical one
    val outName = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT",
      if (onlySubset.isDefined) "SCALE_SMOKE_partial.json"
      else if (Copies == 10) "SCALE_SMOKE.json" else s"SCALE_SMOKE_x$Copies.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outName), json + "\n")
    catch { case e: Exception => System.err.println(s"[scale] write failed: $e") }
    spark.stop()
    if (violations.nonEmpty) {
      System.err.println(s"[scale] FAILED:\n  ${violations.mkString("\n  ")}")
      sys.exit(1)
    }
  }
}
