package graft.kernel

import graft.PlanShape
import graft.queries.{BillingDemo, CoreQueries, KernelQueries}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec,
  CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Physical-plan assertions — the scale-design contract (SURVEY.md §4).
  * These lock in properties the 100 TB design depends on; a regression that
  * turns a broadcast join into a sort-merge join or loses parquet pushdown
  * fails here, not in production.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("equality/range filters push down to the parquet scan") {
    val plan = planOf(CoreQueries.q05Filter.fn(spark, sf))
    assert(plan.contains("PushedFilters"))
    assert(plan.contains("EqualTo(l_returnflag,R)"))
    assert(plan.contains("GreaterThan(l_quantity")) // value may be truncated in toString
  }

  test("column pruning reaches the scan (narrow ReadSchema)") {
    val plan = planOf(
      CoreQueries.q04Distinct.fn(spark, sf)) // selects one column of lineitem
    assert(plan.contains("ReadSchema: struct<l_suppkey:bigint>"))
  }

  test("the 8-way rule-match ladder is one rule-index probe — the fact side never shuffles") {
    val plan = KernelQueries.q22KernelFull.fn(spark, sf).queryExecution.executedPlan
    // one probe, no SortMergeJoin, and the fact is the only scan: the dim
    // is collected into the rule index before the fact plan exists. Round 1
    // regression: the dim's month-distinct subquery re-scanned lineitem in
    // each of the 8 broadcast subtrees.
    assert(PlanShape.kernelViolations(plan).isEmpty,
      s"${PlanShape.kernelViolations(plan)}:\n$plan")
    assert(PlanShape.count[BroadcastHashJoinExec](plan) == 0,
      s"a join ladder crept back into the kernel:\n$plan")
    assert(PlanShape.count[CartesianProductExec](plan) == 0)
  }

  test("q24's variant flags are expression-only: same plan shape and size as q22") {
    // the E4 SQL-variant differs from q22 in two scalar formulas — the
    // physical plan must stay the q22 plan (one rule-index probe, the one
    // grain-agg shuffle) with no codegen blow-up. This encodes the one-off manual
    // measurement ("plan strings within 3%") so a regression is caught by
    // CI, not by a noisy bench read.
    val (d22, d24) = (KernelQueries.q22KernelFull.fn(spark, sf),
      KernelQueries.q24KernelSqlVariant.fn(spark, sf))
    val (p22, p24) = (planOf(d22), planOf(d24))
    def ops(df: org.apache.spark.sql.DataFrame): Map[String, Int] = {
      val plan = df.queryExecution.executedPlan
      Map(
        "probe" -> PlanShape.ruleProbes(plan),
        "Exchange" -> PlanShape.count[ShuffleExchangeExec](plan),
        "HashAggregate" -> PlanShape.count[HashAggregateExec](plan),
        "SortMergeJoin" -> PlanShape.count[SortMergeJoinExec](plan),
        "BroadcastHashJoin" -> PlanShape.count[BroadcastHashJoinExec](plan))
    }
    val (o22, o24) = (ops(d22), ops(d24))
    assert(o22("probe") == 1 && o22("SortMergeJoin") == 0 && o22("BroadcastHashJoin") == 0, s"$o22")
    assert(o22 == o24,
      s"q22/q24 operator multisets diverged: $o22 vs $o24")
    val ratio = p24.length.toDouble / p22.length
    assert(ratio > 1 / 1.1 && ratio < 1.1,
      s"q24 plan size diverged from q22 by ${(ratio - 1) * 100}%")
  }

  test("dedup joins are equi-joins on derived keys — no cartesian products") {
    import graft.operators.Dedup
    // d06 is the DEFAULT embedding near-dup path — it must stay a bucket
    // equi-join (d05 is the only sanctioned brute-force baseline)
    Seq(Dedup.d02NgramJaccard, Dedup.d03MinHashLsh, Dedup.d04SimHash,
      Dedup.d06EmbeddingLsh, Dedup.d08NgramStopList,
      Dedup.d09MinHashStopList, Dedup.d10SimHashStopList,
      Dedup.d13SemanticDedup, Dedup.d14SpanDedup, Dedup.d15FuzzyJoin,
      Dedup.d16IncrementalNearDup,
      graft.operators.Multimodal.m04BinaryNearDup).foreach { q =>
      val plan = planOf(q.fn(spark, sf))
      assert(!plan.contains("CartesianProduct"), s"${q.name} has a cartesian join")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"${q.name} has a nested-loop join")
    }
  }

  test("d17 reads the persisted history index — no history recompute in the plan") {
    import graft.operators.Dedup
    // first call builds the bucketed index tables (idempotent per dir+bp)
    val d17 = Dedup.d17NearDupIndexed.fn(spark, sf)
    val plan = planOf(d17)
    // the history side must be the STORED bucketed tables...
    assert(plan.contains("graft_ndidx_bands"), "band index table not scanned")
    assert(plan.contains("graft_ndidx_sh"), "shingle index table not scanned")
    // ...and history shingle/signature recompute must be GONE: d16's plan
    // reads documents.parquet for history AND batch, d17's only for the
    // batch side. Count the raw-source scans in each.
    def docScans(p: String): Int =
      "documents\\.parquet".r.findAllIn(p).length
    val d16Plan = planOf(Dedup.d16IncrementalNearDup.fn(spark, sf))
    assert(docScans(plan) > 0, "batch side must still read the raw table")
    assert(docScans(plan) < docScans(d16Plan),
      s"d17 scans documents.parquet ${docScans(plan)}x vs d16 ${docScans(d16Plan)}x — history not offloaded")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("s16 reads the persisted codes table — the corpus encode is gone from the plan") {
    import graft.operators.Similarity
    // first call builds the bucketed codes table (idempotent per dir)
    val s16 = Similarity.s16IvfPqIndexed.fn(spark, sf)
    val plan = planOf(s16)
    // the candidate side must be the STORED codes (+ literal-codebook
    // reconstruction), not a fresh corpus-wide assign/encode...
    assert(plan.contains("graft_pqidx_codes"), "codes index table not scanned")
    // ...so raw embeddings are read for the PROBE side only: s09's final
    // plan scans embeddings.parquet for both join sides, s16's for one
    def embScans(p: String): Int =
      "embeddings\\.parquet".r.findAllIn(p).length
    val s09Plan = planOf(Similarity.s09IvfPqAdc.fn(spark, sf))
    assert(embScans(plan) > 0, "probe side must still read the raw embeddings")
    assert(embScans(plan) < embScans(s09Plan),
      s"s16 scans embeddings.parquet ${embScans(plan)}x vs s09 ${embScans(s09Plan)}x — encode not offloaded")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("s17 reads base codes + delta segment — no training and no corpus encode in the plan") {
    import graft.operators.Similarity
    // first call ensures the base index and appends the delta segment
    val s17 = Similarity.s17IvfPqAppend.fn(spark, sf)
    val plan = planOf(s17)
    // the candidate side must be the STORED base codes UNION the stored
    // delta segment (both reconstruction-from-literals projections)...
    assert(plan.contains("graft_pqidx_codes"), "base codes table not scanned")
    assert(plan.contains("graft_pqidx_delta"), "delta segment table not scanned")
    // ...so raw embeddings are read only to derive PROBE residuals —
    // exactly the probe union's two branches (base probes + the delta's
    // reversed twins), never to encode candidates. A third scan would
    // mean candidate encode crept back into the plan.
    def embScans(p: String): Int =
      "embeddings\\.parquet".r.findAllIn(p).length
    assert(embScans(plan) == 2,
      s"s17 scans embeddings.parquet ${embScans(plan)}x — expected exactly the 2 probe-union branches")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("s18 reads ONE compacted table — no per-query union, no base/segment scan") {
    import graft.operators.Similarity
    // first call ensures base + segment and folds them (idempotent per dir)
    val plan = planOf(Similarity.s18IvfPqCompact.fn(spark, sf))
    assert(plan.contains("graft_pqidx_compact"), "compacted generation not scanned")
    // the whole point of compaction: the candidate side is a SINGLE table
    // scan whose plan shape is independent of how many segments were
    // folded — neither the base codes table nor any delta segment appears
    assert(!plan.contains("graft_pqidx_codes"),
      "base codes table still scanned — the fold did not replace the union")
    assert(!plan.contains("graft_pqidx_delta"),
      "delta segment still scanned — the fold did not replace the union")
    def embScans(p: String): Int = "embeddings\\.parquet".r.findAllIn(p).length
    assert(embScans(plan) == 2,
      s"s18 scans embeddings.parquet ${embScans(plan)}x — expected exactly the 2 probe-union branches")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q58's per-batch candidate read is BUCKET-PRUNED to the batch's cells") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions._
    // a small batch touches few cellr rings; the serving plan must read
    // only those buckets of base + delta — the round-15 verdict's one
    // scale-killer was this exact scan reading (and repartitioning) the
    // ENTIRE index every micro-batch
    val batch = Similarity.unionProbeVecs(spark, sf).limit(5)
    val plan = planOf(Similarity.annEnrichBatch(spark, sf, batch))
    assert(plan.contains("graft_pqidx_codes") && plan.contains("graft_pqidx_delta"),
      "serving must read base codes + delta segment")
    assert(plan.contains("In(cellr"),
      "the touched-cellr filter is not pushed to the index scans")
    val selected = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findAllMatchIn(plan).toSeq
    assert(selected.size >= 2,
      s"expected bucket pruning on both index scans, plan shows ${selected.size}:\n$plan")
    selected.foreach { m =>
      assert(m.group(1).toInt < m.group(2).toInt,
        s"index scan reads all ${m.group(2)} buckets — pruning lost, per-batch cost is corpus-scale")
    }
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("s20's lang predicate is PUSHED to the stored-codes scan — no per-query attribute join") {
    import graft.operators.Similarity
    // the whole point of persisting the attribute WITH the codes: the
    // metadata filter is a scan predicate on the candidate read, not a
    // join — s19 (declared-chain fixtures) attaches by semi-join, s20
    // (stored index) must not
    val plan = planOf(Similarity.s20AnnFilteredIndexed.fn(spark, sf))
    assert(plan.contains("graft_pqidx_codes"), "codes index table not scanned")
    assert(plan.contains("EqualTo(lang,en)"),
      s"lang predicate not pushed to the codes scan:\n$plan")
    assert(!plan.contains("documents.parquet"),
      "attribute attached by a per-query documents join — the persisted column is unused")
    assert(!plan.contains("LeftSemi"), "semi-join crept into the stored-index filtered path")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q59's filtered serving read is bucket-pruned AND lang-pushed — no join, no full scan") {
    import graft.operators.Similarity
    val batch = Similarity.unionProbeVecs(spark, sf).limit(5)
    val plan = planOf(Similarity.annEnrichBatch(spark, sf, batch,
      langFilter = Some(Similarity.FilterLang)))
    assert(plan.contains("graft_pqidx_codes") && plan.contains("graft_pqidx_delta"),
      "filtered serving must read base codes + delta segment")
    assert(plan.contains("In(cellr"),
      "the touched-cellr filter is not pushed to the index scans")
    assert(plan.contains("EqualTo(lang,en)"),
      s"lang predicate not pushed to the serving scans:\n$plan")
    assert(!plan.contains("documents.parquet"),
      "filtered serving joins documents per batch — the persisted column is unused")
    val selected = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findAllMatchIn(plan).toSeq
    assert(selected.size >= 2,
      s"expected bucket pruning on both index scans, plan shows ${selected.size}")
    selected.foreach { m =>
      assert(m.group(1).toInt < m.group(2).toInt,
        s"index scan reads all ${m.group(2)} buckets — pruning lost under the filter")
    }
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("s05 IVF assignment is a pure projection — no shuffle below the candidate join") {
    import graft.operators.Similarity
    val plan = planOf(Similarity.s05IvfSearch.fn(spark, sf))
    // centroid assignment must be a literal-array argmax in a Project, not a
    // crossJoin+window: the only Exchange allowed at/below the candidate
    // join is the probe-side BroadcastExchange. (The top-k window above the
    // join legitimately shuffles by probe_id — the plan string lists parents
    // first, so everything after the join line is its subtree.)
    val joinAt = plan.indexOf("BroadcastHashJoin")
    assert(joinAt >= 0, s"expected a broadcast candidate join:\n$plan")
    val below = plan.substring(joinAt)
    assert(!below.contains("Exchange hashpartitioning"),
      s"shuffle below the s05 candidate join:\n$plan")
    // exactly one Window may remain: the top-k ranking over probe_id —
    // a second one means the crossJoin+window assignment crept back
    assert("Window ".r.findAllIn(plan).size <= 1,
      s"assignment window crept back into s05:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("s07 recall accounting is bounded, non-vacuous, and discriminating") {
    import graft.operators.Similarity
    val rows = Similarity.s07AnnRecall.fn(spark, sf).collect()
    assert(rows.nonEmpty, "no probes scored")
    rows.foreach { r =>
      val (hits, k, rec) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(hits >= 0 && hits <= k, s"hits $hits outside [0, $k]")
      assert(rec >= 0.0 && rec <= 1.0, s"recall $rec outside [0, 1]")
    }
    // the measurement must discriminate: 8-plane LSH misses some true
    // neighbors on this fixture — if every probe reads perfect, the query
    // proves only schema (and an LSH regression would be invisible)
    assert(rows.exists(r => r.getLong(1) < r.getLong(2)),
      "recall is vacuously perfect on the fixture")
    assert(rows.exists(r => r.getLong(1) > 0),
      "recall is vacuously zero on the fixture")
  }

  test("c01 corpus clean is non-vacuous on the fixture data") {
    import graft.operators.CorpusPipeline
    // a threshold above the corpus's quality-score mass makes the
    // keeper∩quality join empty and the oracle check proves only schema
    assert(CorpusPipeline.c01CorpusClean.fn(spark, sf).count() > 0)
  }

  test("c02 quality gate is a map-only pass — no Exchange anywhere, and non-vacuous") {
    import graft.operators.CorpusPipeline
    val df = CorpusPipeline.c02QualityGate.fn(spark, sf)
    val plan = planOf(df)
    assert(!plan.contains("Exchange"),
      s"the single-pass quality gate grew a shuffle:\n$plan")
    assert(df.count() > 0)
  }

  test("c02's pushdown barrier holds — the tokenizer is computed once, below the gate") {
    import graft.operators.CorpusPipeline
    // the no-Exchange assertion above would NOT catch the failure the
    // barrier protects against: pushdown re-inlining the tokenizing split
    // into every signal of a scan-level filter adds no Exchange, just ~10×
    // the work (observed 5× at sf0.1). Pin the barrier itself.
    val qe = CorpusPipeline.c02QualityGate.fn(spark, sf).queryExecution
    val tokenizer = "split(lower(trim"
    val planStr = qe.executedPlan.toString
    val occurrences = planStr.sliding(tokenizer.length).count(_ == tokenizer)
    assert(occurrences == 1,
      s"tokenizer inlined $occurrences times (barrier collapsed?):\n$planStr")
    // and structurally: the optimized plan keeps a Filter ABOVE the Project
    // that materializes the token array (pushdown would sink it below)
    val optimized = qe.optimizedPlan
    val filterAboveTokenProject = optimized.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.find {
            case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
              p.projectList.exists(_.toString.contains(tokenizer))
            case _ => false
          }.isDefined => f
    }
    assert(filterAboveTokenProject.isDefined,
      s"no Filter above the tokenizing Project — pushdown sank the gate:\n$optimized")
  }

  test("t07 decontamination broadcasts the eval side; t08 sharding never opens a global window") {
    import graft.operators.TextAnalysis
    val t07 = planOf(TextAnalysis.t07Decontamination.fn(spark, sf))
    // the benchmark shingle set must reach the train side as a broadcast —
    // a sort-merge join here would shuffle the whole train corpus
    assert(t07.contains("BroadcastHashJoin"), s"t07 lost its broadcast:\n$t07")
    assert(!t07.contains("SortMergeJoin"), s"t07 shuffles the train side:\n$t07")
    val t08 = planOf(TextAnalysis.t08ShardPlan.fn(spark, sf))
    // the running sum must stay partitioned by bucket — a Window with an
    // empty partition spec serializes the whole corpus onto one task
    assert(t08.contains("Window"), s"t08 lost its window:\n$t08")
    assert(!t08.contains("SinglePartition"), s"t08 serializes on one task:\n$t08")
  }

  test("q25 as-of join plans as union+window — no join operator at all") {
    import graft.operators.Temporal
    val plan = planOf(Temporal.q25AsofJoin.fn(spark, sf))
    // the 100 TB shape: one shuffle on the key, a running last() — any Join
    // node means the inequality formulation (nested-loop at scale) crept in
    assert(!plan.contains("Join"), s"as-of join grew a join operator:\n$plan")
    assert(plan.contains("Window"), s"as-of join lost its window:\n$plan")
  }

  test("q26 range join is a bucket equi-join — no nested-loop/cartesian") {
    import graft.operators.Temporal
    val plan = planOf(Temporal.q26RangeJoin.fn(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"range join went cartesian:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"range join planned as a nested loop (naive BETWEEN shape):\n$plan")
  }

  test("q27/q29 shuffle exactly once; q31's unpivot Expand never shuffles") {
    import graft.queries.CoreQueries
    def exchanges(plan: String) =
      "Exchange hashpartitioning".r.findAllIn(plan).size
    val rollup = planOf(CoreQueries.q27Rollup.fn(spark, sf))
    assert(exchanges(rollup) == 1,
      s"ROLLUP should be Expand + ONE agg shuffle for all levels:\n$rollup")
    val moving = planOf(CoreQueries.q29MovingAgg.fn(spark, sf))
    assert(exchanges(moving) == 1,
      s"moving agg should shuffle once, keyed by user:\n$moving")
    val unpivot = planOf(CoreQueries.q31Unpivot.fn(spark, sf))
    assert(!unpivot.contains("Exchange"),
      s"unpivot is a map-only Expand — a shuffle crept in:\n$unpivot")
    assert(unpivot.contains("Expand"), s"unpivot lost its Expand:\n$unpivot")
  }

  test("q33 reconciles via one full-outer equi-join; q34 plans semi/anti joins") {
    import graft.operators.Reconcile
    import graft.queries.CoreQueries
    val diff = planOf(Reconcile.q33SnapshotDiff.fn(spark, sf))
    assert(diff.contains("FullOuter"), s"q33 lost its full-outer join:\n$diff")
    assert(!diff.contains("CartesianProduct") &&
      !diff.contains("BroadcastNestedLoopJoin"), s"q33 degraded:\n$diff")
    val setops = planOf(CoreQueries.q34SetOps.fn(spark, sf))
    assert(setops.contains("LeftSemi"), s"q34 INTERSECT lost its semi join:\n$setops")
    assert(setops.contains("LeftAnti"), s"q34 EXCEPT lost its anti join:\n$setops")
  }

  test("q37 salted join shuffles on (key, salt) through a non-broadcast join") {
    import graft.queries.CoreQueries
    val plan = planOf(CoreQueries.q37SaltedJoin.fn(spark, sf))
    // the merge hint must hold — a broadcast right side would make the
    // salting dead code (the fact side would never shuffle at all)
    assert(plan.contains("SortMergeJoin"), s"q37 right side got broadcast:\n$plan")
    // and the join's shuffle must be keyed by (skew_key, __salt): that pair
    // is what spreads one hot key's rows across `salt` reducers
    assert("hashpartitioning\\(skew_key#\\d+L?, __salt#\\d+".r
      .findFirstIn(plan).isDefined,
      s"salted shuffle lost its __salt key:\n$plan")
  }

  test("q36 co-bucketed reconcile joins with ZERO Exchange — and matches q33 exactly") {
    import graft.operators.Reconcile
    val df = Reconcile.q36BucketedReconcile.fn(spark, sf)
    val plan = planOf(df)
    // the claim under test: both snapshots were written bucketed by the
    // join key, so NEITHER side shuffles for the full-outer join — the
    // whole point of paying the bucket shuffle once at write time
    assert(!plan.contains("Exchange"),
      s"co-bucketed reconcile still shuffles:\n$plan")
    assert(plan.contains("FullOuter"), s"q36 lost its full-outer join:\n$plan")
    // layout must not change results: q36 ≡ q33 row-for-row
    val direct = Reconcile.q33SnapshotDiff.fn(spark, sf)
    assert(df.exceptAll(direct).isEmpty && direct.exceptAll(df).isEmpty,
      "bucketed reconcile diverged from the direct q33 diff")
  }

  test("q36's snapshot pair is written once per source version; re-runs only read") {
    import graft.operators.Reconcile
    // first call (above or here) wrote the pair; subsequent calls must
    // NEITHER grow the catalog NOR drop tables a concurrent caller's lazy
    // frame may still read (the round-6 drop-previous hazard, ADVICE r6)
    val first = Reconcile.q36BucketedReconcile.fn(spark, sf)
    val tablesBefore = spark.catalog.listTables().count()
    val again = Reconcile.q36BucketedReconcile.fn(spark, sf)
    assert(spark.catalog.listTables().count() == tablesBefore,
      "re-running q36 created or dropped catalog tables")
    assert(again.exceptAll(first).isEmpty && first.exceptAll(again).isEmpty)
    // the FIRST frame still reads fine after later invocations
    assert(first.count() == again.count())
  }

  test("q19/q30 error-bound queries keep their single-aggregation shuffle shape") {
    import graft.queries.CoreQueries
    // q19: exact + sketch percentiles in ONE grouped aggregate — one
    // shuffle (partial/final split), no join, no expand; folding the
    // error-bound flags in must never add a second pass over the fact
    val p19 = planOf(CoreQueries.q19QuantilesApprox.fn(spark, sf))
    val ex19 = "Exchange".r.findAllIn(p19).size
    assert(ex19 <= 1, s"q19 grew to $ex19 exchanges:\n$p19")
    assert(!p19.contains("Join"), "q19 grew a join")
    // q30: countDistinct rewrites to Expand + two-phase agg — two
    // exchanges is the canonical distinct-agg shape; the HLL estimate
    // rides the same aggregate
    val p30 = planOf(CoreQueries.q30DistinctApprox.fn(spark, sf))
    val ex30 = "Exchange".r.findAllIn(p30).size
    assert(ex30 <= 2, s"q30 grew to $ex30 exchanges:\n$p30")
    assert(!p30.contains("Join"), "q30 grew a join")
  }

  /** Shuffle exchanges on the DATA path: Exchange nodes reachable without
    * crossing into a BroadcastExchange subtree (a broadcast side is
    * scale-independent metadata work; what the 100 TB contract pins is the
    * FACT side). */
  private def dataSideShuffles(p: org.apache.spark.sql.execution.SparkPlan): Int =
    p match {
      case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => 0
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        1 + s.children.map(dataSideShuffles).sum
      case other => other.children.map(dataSideShuffles).sum
    }

  /** Join operators of every kind but nested-loop. */
  private def joins(p: org.apache.spark.sql.execution.SparkPlan): Int =
    PlanShape.count[BroadcastHashJoinExec](p) + PlanShape.count[SortMergeJoinExec](p) +
      PlanShape.count[ShuffledHashJoinExec](p)

  test("q40's shuffle fallback plans ONE stacked-dim join, not the 8-family ladder") {
    // broadcast is no longer FORCED: Catalyst may still broadcast the small
    // demo dim (correct degradation in the small-dim direction), but the
    // 8-family ladder must be gone — the dim meets the fact-key frame once
    // (tall stack) and the resolved payload re-joins once
    val p = KernelQueries.q40RuleMatchShuffle.fn(spark, sf).queryExecution.executedPlan
    assert(joins(p) <= 2, s"q40 kept a join ladder (${joins(p)} joins):\n$p")
    assert(PlanShape.count[CartesianProductExec](p) == 0)
    assert(PlanShape.ruleProbes(p) == 0, s"q40 broadcast the rule index:\n$p")
    // the demo dim is BUILT with a bounded broadcast cross join (41 rules ×
    // memoized months), planned once in the tall-dim subtree (same
    // allowance as ScaleSmoke's q40 check); anything beyond it is real
    assert(PlanShape.count[BroadcastNestedLoopJoinExec](p) <= 1,
      s"q40 grew a non-dim nested-loop join:\n$p")
  }

  test("with broadcast disabled q40 degrades to shuffle joins where the ladder would fail") {
    // the large-dim regime the fallback exists for: no broadcast anywhere,
    // the plan must still be pure key-hashed joins (SortMerge/ShuffledHash)
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = KernelQueries.q40RuleMatchShuffle.fn(spark, sf)
      val p = df.queryExecution.executedPlan
      assert(PlanShape.count[BroadcastHashJoinExec](p) == 0,
        s"q40 still broadcasts with the threshold off:\n$p")
      assert(PlanShape.count[SortMergeJoinExec](p) + PlanShape.count[ShuffledHashJoinExec](p) > 0,
        s"q40 lost its shuffle joins:\n$p")
      // and the regime switch is plan-only: results equal q21's verbatim
      val direct = KernelQueries.q21RuleMatch.fn(spark, sf)
      assert(df.exceptAll(direct).isEmpty && direct.exceptAll(df).isEmpty,
        "q40 under forced-shuffle diverged from q21")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("Auto strategy picks the ladder for a small dim and the fallback past the size cap") {
    import graft.kernel.RuleMatch.RuleDimStrategy
    val fact = BillingDemo.fact(spark, sf)
    val dim = BillingDemo.dim(spark, sf)
    val auto = RuleMatch.addRuleTag(fact, dim, RuleDimStrategy.Auto()).queryExecution.executedPlan
    assert(PlanShape.kernelViolations(auto).isEmpty,
      s"Auto on a small dim should keep the rule-index probe:\n$auto")
    val forced = RuleMatch.addRuleTag(fact, dim, RuleDimStrategy.Auto(maxBroadcastBytes = 0))
      .queryExecution.executedPlan
    assert(PlanShape.ruleProbes(forced) == 0 && joins(forced) > 0 && joins(forced) <= 2,
      s"Auto past the cap should pick the single-join fallback:\n$forced")
  }

  test("q41's bucketed-ods kernel has a ZERO-shuffle fact path — and equals q22 exactly") {
    // AQE wraps the tree in a leaf AdaptiveSparkPlanExec, which would hide
    // the children from the structural walk — plan without it (Exchange
    // placement is decided by EnsureRequirements either way)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
    val df = KernelQueries.q41KernelBucketed.fn(spark, sf)
    val plan = planOf(df)
    // the bucketed scan reports hash partitioning on (invoice_month,
    // billing_account_id) ⊆ the grain-13 grouping keys, so the kernel's
    // ONLY fact-side shuffle (the grain aggregation) disappears: partial
    // and final HashAggregate fuse over the bucketed scan. (The rule dim
    // is collected into the rule index, so no dim subtree is in the plan.)
    assert(plan.contains("Bucketed: true"), s"q41 lost its bucketed scan:\n$plan")
    assert(dataSideShuffles(df.queryExecution.executedPlan) == 0,
      s"bucketed-ods kernel still shuffles the fact:\n$plan")
    // ...where q22's identical kernel over the raw parquet pays exactly one
    val q22 = KernelQueries.q22KernelFull.fn(spark, sf)
    assert(dataSideShuffles(q22.queryExecution.executedPlan) == 1,
      "q22's fact path no longer shuffles once — the q41 comparison is stale")
    assert(PlanShape.kernelViolations(df.queryExecution.executedPlan).isEmpty,
      s"q41 lost the kernel shape:\n$plan")
    // layout is not semantics: q41 ≡ q22 row-for-row
    assert(df.exceptAll(q22).isEmpty && q22.exceptAll(df).isEmpty,
      "bucketed-ods kernel diverged from q22")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("the sketch-only bench entries keep single-aggregation sketch plans") {
    // q19s: one grouped aggregate, no join, ≤1 Exchange, and ONLY the
    // sketch (the exact percentile would buffer whole groups on reducers)
    val p19 = planOf(CoreQueries.q19sQuantilesSketchOnly.fn(spark, sf))
    assert("Exchange".r.findAllIn(p19).size <= 1 && !p19.contains("Join"),
      s"q19s grew beyond one aggregation:\n$p19")
    assert(p19.contains("approx_percentile"), s"q19s lost its sketch:\n$p19")
    assert(!p19.replace("approx_percentile", "").contains("percentile"),
      s"q19s picked the exact percentile back up:\n$p19")
    // q30s: HLL registers ride ONE two-phase aggregate — no countDistinct
    // Expand (that's the exact side's shape), so ≤1 Exchange
    val p30 = planOf(CoreQueries.q30sDistinctSketchOnly.fn(spark, sf))
    assert("Exchange".r.findAllIn(p30).size <= 1 && !p30.contains("Join"),
      s"q30s grew beyond one aggregation:\n$p30")
    assert(p30.contains("approx_count_distinct"), s"q30s lost its sketch:\n$p30")
    assert(!p30.contains("Expand"), s"q30s picked exact countDistinct back up:\n$p30")
  }

  test("the billing demo dim stays small enough to broadcast at any fact scale") {
    // dim cardinality = 41 rules × fact months — independent of fact ROWS
    val dim = BillingDemo.dim(spark, sf)
    assert(dim.count() <= 41L * 100)
  }

  test("q42 cohort retention: join-free, and the distinct reuses the window's user shuffle") {
    val plan = planOf(CoreQueries.q42CohortRetention.fn(spark, sf))
    assert(!plan.contains("Join"), s"q42 grew a join:\n$plan")
    // user-keyed window shuffle + final (cohort, offset) agg shuffle ONLY:
    // the (cohort, offset, user) distinct must be satisfied by the window's
    // user_id hash partitioning (subset rule), not add a third exchange
    val ex = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(ex == 2, s"q42 expected 2 hash exchanges (window + final agg), got $ex:\n$plan")
  }

  test("q43 funnel: both window passes and the per-user rollup share ONE user shuffle") {
    val plan = planOf(CoreQueries.q43Funnel.fn(spark, sf))
    assert(!plan.contains("Join"), s"q43 grew a join:\n$plan")
    val ex = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(ex == 1, s"q43 expected 1 hash exchange, got $ex:\n$plan")
    val windows = "Window".r.findAllIn(plan).size
    assert(windows >= 2, s"q43 lost a window pass:\n$plan")
  }

  test("s08 k-means: per-row argmin against literal centroids — no join in the assignment") {
    val plan = planOf(graft.operators.Similarity.s08KmeansLloyd.fn(spark, sf))
    assert(!plan.contains("Join"), s"s08 assignment grew a join:\n$plan")
    val ex = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(ex == 1, s"s08 expected 1 hash exchange (final cluster agg), got $ex:\n$plan")
  }

  test("t13 TF-IDF: equi-joins only — the corpus-size scalar is an inlined literal") {
    val plan = planOf(graft.operators.TextAnalysis.t13TfIdf.fn(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"t13 has a cartesian join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"t13 grew a nested-loop join (the n_docs scalar must stay a literal):\n$plan")
  }

  test("t15 bigram LM: equi-joins only — the vocab-size scalar is an inlined literal") {
    val plan = planOf(graft.operators.TextAnalysis.t15LmScore.fn(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"t15 has a cartesian join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"t15 grew a nested-loop join (V must stay a literal, not a 1-row cross join):\n$plan")
  }

  test("t26 html extraction is map-only: regex chain + array folds — no join, no shuffle") {
    val plan = planOf(graft.operators.TextAnalysis.t26HtmlExtract.fn(spark, sf))
    assert(!plan.contains("Join"), s"t26 grew a join:\n$plan")
    assert(!plan.contains("Exchange"), s"t26 grew a shuffle:\n$plan")
  }

  test("t25 encode pass is map-only: merges fold in as literals — no join, no shuffle") {
    // t25.fn runs the training rounds as separate bounded jobs; the
    // RETURNED plan is the corpus encode pass, which must stay a pure
    // projection over the documents scan (the 100 TB claim: learned
    // merges enter as literal replaces, never as a join against a
    // merge table)
    val plan = planOf(graft.operators.TextAnalysis.t25BpeEncode.fn(spark, sf))
    assert(!plan.contains("Join"), s"t25 encode grew a join:\n$plan")
    assert(!plan.contains("Exchange"), s"t25 encode grew a shuffle:\n$plan")
  }

  test("s15 hybrid fusion: both lists and the fused top-k plan as TakeOrderedAndProject") {
    val plan = planOf(graft.operators.Similarity.s15HybridRrf.fn(spark, sf))
    // a regression to a global Sort+Limit would read as Sort without
    // TakeOrderedAndProject; the rank windows then run over ≤RrfDepth
    // rows (bounded), which is the only sanctioned single-partition step
    val topN = "TakeOrderedAndProject".r.findAllIn(plan).size
    assert(topN >= 2, s"s15 expected ≥2 top-N operators (vector list, lexical list), got $topN:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"s15 has a cartesian join:\n$plan")
    // the probe must enter as literals (the s05 centroid discipline) —
    // a 1-row broadcast <> join would plan as the BNLJ the gate forbids
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"s15 grew a nested-loop join (the probe must stay a literal):\n$plan")
  }

  test("q52 cube: one Expand, one shuffle — the whole 2^3 lattice in a single pass") {
    val plan = planOf(CoreQueries.q52Cube.fn(spark, sf))
    assert(!plan.contains("Join"), s"q52 grew a join:\n$plan")
    assert("Expand".r.findAllIn(plan).size == 1, s"q52 expected exactly 1 Expand:\n$plan")
    val ex = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(ex == 1, s"q52 expected 1 hash exchange (the expanded-key agg), got $ex:\n$plan")
  }

  test("q49 SCD2: join-free — lag, running sum, collapse and lead share ONE customer shuffle") {
    val plan = planOf(CoreQueries.q49Scd2History.fn(spark, sf))
    assert(!plan.contains("Join"), s"q49 grew a join:\n$plan")
    // the (custkey, version) collapse and the closing lead must ride the
    // lag/running-sum window's custkey hash partitioning (subset rule) —
    // a second exchange means the history build re-shuffles per pass
    val ex = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(ex == 1, s"q49 expected 1 hash exchange, got $ex:\n$plan")
  }

  test("t16 packing: join-free — ONE bucket shuffle feeds the running sum and the explode") {
    val plan = planOf(graft.operators.TextAnalysis.t16PackSequences.fn(spark, sf))
    assert(!plan.contains("Join"), s"t16 grew a join:\n$plan")
    val ex = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(ex == 1, s"t16 expected 1 hash exchange (the bucket window), got $ex:\n$plan")
    assert(plan.contains("Generate"), s"t16 lost its explode:\n$plan")
  }

  test("s09 IVF-PQ: the cell equi-join is the ONLY join — encoding is a literal projection") {
    val plan = planOf(graft.operators.Similarity.s09IvfPqAdc.fn(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"s09 has a cartesian join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"s09 grew a nested-loop join (codebooks must stay literals):\n$plan")
    val joins = "Join".r.findAllIn(plan).size
    assert(joins == 1, s"s09 expected exactly 1 join (the cell equi-join), got $joins:\n$plan")
  }

  test("c03 pipeline-to-shards: fused end-to-end, equi-joins only, non-vacuous") {
    val df = graft.operators.CorpusPipeline.c03PipelineToShards.fn(spark, sf)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), s"c03 has a cartesian join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"c03 has a nested-loop join:\n$plan")
    // survivors exist, several docs chunk into >1 chunk, and packing
    // actually crosses shard boundaries — otherwise the oracle proves
    // only schema (the c01 vacuity lesson)
    val rows = df.cache()
    try {
      import org.apache.spark.sql.functions._
      assert(rows.count() > 0, "pipeline must keep some documents")
      assert(rows.groupBy("doc_id").count().filter(col("count") > 1).count() > 0,
        "at least one surviving doc must produce multiple chunks")
      assert(rows.select("shard_id").distinct().count() > 1,
        "packing must produce more than one shard")
    } finally rows.unpersist()
  }
}
