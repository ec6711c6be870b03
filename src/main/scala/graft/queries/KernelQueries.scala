package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.kernel.{BillingSchema, Calculate, Conform, Credits, RuleMatch}

/** Oracle-checked billing-kernel queries over the demo fact/dim
  * (BillingDemo). The DuckDB oracles re-state the kernel as plain SQL —
  * effectively the reference's sql_template.py pipeline with SURVEY.md §4's
  * discrepancies resolved — built programmatically so the 8-family join
  * ladder and coalesce chains can't drift from the Spark side by typo.
  */
object KernelQueries {

  import BillingSchema.{CreditColumns, CreditTypeToColumn, Measures}

  /** Rounds every DoubleType column to 4 decimals (hash-stability; the SQL
    * twins round the same columns). */
  private def roundDoubles(df: org.apache.spark.sql.DataFrame) = {
    val cols = df.schema.fields.map { f =>
      if (f.dataType == DoubleType) Stable.r4(col(f.name)).as(f.name) else col(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  // ---------- shared SQL fragments ----------

  private val dimiSql =
    s"""SELECT *, substring(month, 1, 4) || substring(month, 6, 2) AS invoice_month
       |FROM (${BillingDemo.dimSql.replace("\n", "\n  ")})""".stripMargin

  private def familySql(i: Int): String = {
    val (p, s, k) = RuleMatch.Presence(i)
    def pred(c: String, present: Boolean) =
      s"$c IS ${if (present) "NOT " else ""}NULL"
    val where = Seq(
      pred("project_id", p), pred("service_description", s), pred("sku_id", k))
      .mkString(" AND ")
    val keys = RuleMatch.keysFor(i).mkString(", ")
    val payload = RuleMatch.PayloadCols.map(c => s"$c AS ${c}_r$i").mkString(", ")
    // same deterministic first-match dedup as RuleMatch.family — without it a
    // dup-key dim silently diverges (pandas misalignment quirk, SURVEY §2.3).
    // NULLS FIRST matches Spark's asc default (DuckDB defaults to NULLS LAST).
    val sort = RuleMatch.PayloadCols.map(c => s"$c ASC NULLS FIRST").mkString(", ")
    s"""SELECT $keys, $payload FROM (
       |  SELECT *, row_number() OVER (PARTITION BY $keys ORDER BY $sort) AS __rn
       |  FROM dimi WHERE $where) WHERE __rn = 1""".stripMargin
  }

  private def coalesced(c: String): String =
    "COALESCE(" + RuleMatch.Precedence.map(i => s"${c}_r$i").mkString(", ") + ")"

  /** WITH prologue shared by the rule-match and full-kernel oracles:
    * fact, dimi, r1..r8, and the joined+coalesced `tagged`. */
  private def taggedSqlFor(factSql: String): String = {
    val families = (1 to 8).map(i => s"r$i AS (${familySql(i)})").mkString(",\n")
    val joins = (1 to 8)
      .map(i => s"LEFT JOIN r$i USING (${RuleMatch.keysFor(i).mkString(", ")})")
      .mkString("\n")
    val payload = RuleMatch.PayloadCols.map(c => s"${coalesced(c)} AS $c").mkString(",\n    ")
    s"""WITH fact AS (${factSql.replace("\n", "\n  ")}),
       |dimi AS (${dimiSql.replace("\n", "\n  ")}),
       |$families,
       |tagged AS (
       |  SELECT fact.*,
       |    $payload
       |  FROM fact
       |${joins.replace("\n", "\n")}
       |)""".stripMargin
  }

  private val taggedSql: String = taggedSqlFor(BillingDemo.factSql)

  // ---------- q20: credits array pivot (A7) ----------

  /** Per-row pivot via higher-order fns on the Spark side; DuckDB re-derives
    * it by unnest+group. (l_orderkey, l_linenumber) is NOT unique in the
    * synthetic lineitem, so both sides aggregate the pivoted values by key
    * to make the comparison well-defined. */
  val q20CreditsPivot = QueryDef(
    "q20_credits_pivot", {
      val pivotSums = CreditTypeToColumn
        .map { case (t, c) => s"sum(CASE WHEN ct = '$t' THEN ca ELSE 0.0 END) AS $c" }
        .mkString(",\n    ")
      val outCols = CreditColumns
        .map(c => s"${Stable.sqlR4(s"coalesce($c, 0.0)")} AS $c").mkString(",\n  ")
      s"""WITH raw AS (${BillingDemo.rawFactSql.replace("\n", "\n  ")}),
         |expl AS (
         |  SELECT l_orderkey, l_linenumber,
         |         unnest(credits_type) AS ct, unnest(credits_amount) AS ca
         |  FROM raw),
         |piv AS (
         |  SELECT l_orderkey, l_linenumber,
         |    $pivotSums,
         |    sum(ca) AS icc
         |  FROM expl GROUP BY l_orderkey, l_linenumber)
         |SELECT l_orderkey, l_linenumber,
         |  $outCols,
         |  ${Stable.sqlR4("coalesce(icc, 0.0)")} AS internal_credits_cost,
         |  ${Stable.sqlR4("coalesce(icc, 0.0)")} - ${Stable.sqlR4("coalesce(c_rm, 0.0)")}
         |    AS internal_credits_consumption
         |FROM piv""".stripMargin
    }) { (s, d) =>
    // widened scan (optimization round 18): see rawFactWidenedForPivot —
    // the repartition keys are exactly this groupBy's keys, so the
    // aggregation below reuses the exchange and the per-row array fold
    // runs at full width instead of on the 3 scan splits.
    val raw = BillingDemo.rawFactWidenedForPivot(s, d)
      .drop(CreditColumns :+ "internal_credits_cost" :+ "internal_credits_consumption": _*)
    // consumption is re-derived from the ROUNDED grouped sums (identically in
    // the oracle): subtracting two unrounded sums built with different
    // association orders can land exactly on a rounding boundary.
    Credits.deriveCredits(raw)
      .groupBy("l_orderkey", "l_linenumber")
      .agg(
        sum(CreditColumns.head).as(CreditColumns.head),
        (CreditColumns.tail.map(c => sum(c).as(c)) :+
          sum("internal_credits_cost").as("internal_credits_cost")): _*)
      .select(
        (Seq(col("l_orderkey"), col("l_linenumber")) ++
          CreditColumns.map(c => Stable.r4(col(c)).as(c)) :+
          Stable.r4(col("internal_credits_cost")).as("internal_credits_cost") :+
          (Stable.r4(col("internal_credits_cost")) - Stable.r4(col("c_rm")))
            .as("internal_credits_consumption")): _*)
  }

  // ---------- q21: rule-match ladder (J1–J9) ----------

  private val matchOutKeys = Seq(
    "invoice_month", "billing_account_id", "usage_day", "project_id",
    "service_description", "sku_id", "cost_type")

  /** q21 — the 8-family rule-match ladder alone (J1–J9): one broadcast rule index probed per row, per-column precedence coalesce; the fact side never shuffles. */
  val q21RuleMatch = QueryDef(
    "q21_rule_match",
    s"""$taggedSql
       |SELECT ${matchOutKeys.mkString(", ")},
       |  mode, ${Stable.sqlR4("discount")} AS discount, ${Stable.sqlR4("price")} AS price,
       |  credit_fields, customer_id, contract_id
       |FROM tagged""".stripMargin) { (s, d) =>
    RuleMatch.addRuleTag(BillingDemo.fact(s, d), BillingDemo.dim(s, d))
      .select(
        (matchOutKeys.map(col) ++ Seq(
          col("mode"), Stable.r4(col("discount")).as("discount"),
          Stable.r4(col("price")).as("price"),
          col("credit_fields"), col("customer_id"), col("contract_id"))): _*)
  }

  // ---------- q22: the full kernel, conformed to the 37-col target ----------

  private val etlLiteral = "2026-02-01 00:00:00"

  /** modes + conform as a SQL suffix appended to a `tagged` CTE. With
    * `sqlVariant = false` (default) both E4 discrepancy flags follow the
    * live-Python defaults (extra rate on internal_cost; mode-4
    * discount_amount stays 0.0 — calculate/service.py:209,79-81). With
    * `sqlVariant = true` it reproduces the SQL template instead: rate on
    * the mode-1 consumption base, discount_amount = credit part
    * (calculate/sql_template.py:130,175,184-190). */
  private def kernelSuffixSql(sqlVariant: Boolean = false): String = {
    val selectedSum = CreditColumns
      .map(c =>
        s"(CASE WHEN list_contains(string_split(coalesce(credit_fields, ''), '/'), '$c') THEN $c ELSE 0.0 END)")
      .mkString("\n      + ")
    // conform: 37 columns, reference defaults, doubles rounded to 4
    val outCols = BillingSchema.TargetColumns.map {
      case "etl_time" => s"TIMESTAMP '$etlLiteral' AS etl_time"
      case "usage_day" => "usage_day"
      case "mode" => "cast(coalesce(mode, 0) AS INTEGER) AS mode"
      case c if BillingSchema.NullableStringCols.contains(c) => c
      case c if BillingSchema.StringDefaultCols.contains(c) => s"coalesce($c, '') AS $c"
      case c => s"${Stable.sqlR4(s"coalesce($c, 0.0)")} AS $c"
    }.mkString(",\n  ")
    val costRate = if (sqlVariant) "" else s" * ${BillingDemo.extraRateSql}"
    val mode1Rate = if (sqlVariant) s" * ${BillingDemo.extraRateSql}" else ""
    val m4Da = if (sqlVariant) "WHEN 4 THEN m4part" else ""
    s""",
       |derived AS (
       |  SELECT *,
       |    (cost + internal_credits_cost)$costRate AS internal_cost,
       |    cost + internal_credits_consumption AS internal_consumption,
       |    CASE WHEN coalesce(price, 1.0) != 0.0
       |         THEN ($selectedSum) / coalesce(price, 1.0)
       |         ELSE 0.0 END AS m4part
       |  FROM tagged),
       |finished AS (
       |  SELECT *,
       |    CASE mode
       |      WHEN 1 THEN internal_consumption$mode1Rate * discount
       |      WHEN 2 THEN usage_amount_in_pricing_units * price
       |      WHEN 3 THEN usage_amount_in_pricing_units * price * discount
       |      WHEN 4 THEN cost_at_list * coalesce(discount, 1.0) + m4part * coalesce(discount, 1.0)
       |      ELSE 0.0 END AS external_consumption,
       |    CASE mode
       |      WHEN 1 THEN internal_credits_consumption
       |      $m4Da
       |      ELSE 0.0 END AS discount_amount
       |  FROM derived)
       |SELECT
       |  $outCols
       |FROM finished""".stripMargin
  }

  /** q22 — the FULL billing kernel: rule-match ladder + pricing modes + extra discounts, conformed to the 37-col target. */
  val q22KernelFull = QueryDef(
    "q22_kernel_full",
    taggedSql + kernelSuffixSql()) { (s, d) =>
    val out = Calculate.calculateWithCredits(
      BillingDemo.fact(s, d), BillingDemo.dim(s, d), BillingDemo.demoExtraDiscount)
    roundDoubles(
      Conform.conformToTarget(out, lit(etlLiteral).cast("timestamp")))
  }

  // ---------- q23: the dormant raw-arrays path (§2.7 `calculate`) ----------

  /** Fact derived from the raw credit ARRAYS: per-row pivot → grain-13
    * aggregation. Differs from q22's fact exactly where the arrays carry
    * information the precomputed columns don't (the MYSTERY_TYPE element
    * joins the totals but no typed column). */
  private val factFromArraysSql: String = {
    // per-row pivot in pure list ops (the raw keys are NOT unique, so an
    // unnest+group+join-back would be ill-defined — q20 learned that);
    // adding 0.0 for non-matching elements is an IEEE identity, so the fold
    // matches CreditsPivot's matching-elements-only fold bit-for-bit.
    def typedSum(t: String): String = graft.operators.TextOps.sumSql(
      s"list_transform(list_zip(credits_type, credits_amount), " +
        s"pp -> CASE WHEN pp[1] = '$t' THEN CAST(pp[2] AS DOUBLE) ELSE 0.0 END)")
    val derived = CreditTypeToColumn
      .map { case (t, c) => s"${typedSum(t)} AS $c" }
      .mkString(",\n  ")
    val icc = graft.operators.TextOps.sumSql("list_transform(credits_amount, xx -> CAST(xx AS DOUBLE))")
    val keep = (Seq("l_orderkey", "l_linenumber") ++ BillingDemo.grain13 ++
      Seq("usage_amount_in_pricing_units", "cost", "cost_at_list")).mkString(", ")
    val sums = Measures.map(m => s"sum($m) AS $m").mkString(",\n  ")
    s"""SELECT ${BillingDemo.grain13.mkString(", ")},
       |  $sums
       |FROM (
       |  SELECT $keep,
       |  $derived,
       |  $icc AS internal_credits_cost,
       |  ($icc) - (${typedSum("RESELLER_MARGIN")}) AS internal_credits_consumption
       |  FROM (${BillingDemo.rawFactSql
                  .replace("\n", "\n    ")}))
       |GROUP BY ${BillingDemo.grain13.mkString(", ")}""".stripMargin
  }

  /** q23 — the kernel fed from the raw credit ARRAYS (the dormant reference path): per-row pivot, grain-13 re-agg, same kernel. */
  val q23KernelFromArrays = QueryDef(
    "q23_kernel_from_arrays",
    taggedSqlFor(factFromArraysSql) + kernelSuffixSql()) { (s, d) =>
    // narrow-key aggregation (optimization round 17, same argument as
    // BillingDemo.fact): pivot the arrays per raw row exactly as before,
    // but group on the 4 narrow keys and derive the grain strings per
    // group — identical groups and sums, ~10 string concats fewer per row
    // widened BEFORE the pivot (optimization round 18): the credit-array
    // pivot is the expensive per-row stage and inherited the 3-split scan
    // layout (1.4 s wall on 3 of 32 cores); the widen is keyed by the
    // grouping keys, so the aggregation reuses the exchange (see
    // BillingDemo.widenNarrow)
    val raw = BillingDemo.widenNarrow(d, BillingDemo.narrowRawForArrays(s, d))
    val fact = BillingDemo.grainFromNarrow(
      Credits.deriveCredits(raw)
        .groupBy(BillingDemo.narrowKeys.map(col): _*)
        .agg(
          sum(Measures.head).as(Measures.head),
          Measures.tail.map(m => sum(m).as(m)): _*))
    val out = Calculate.calculateWithCredits(
      fact, BillingDemo.dim(s, d), BillingDemo.demoExtraDiscount)
    roundDoubles(
      Conform.conformToTarget(out, lit(etlLiteral).cast("timestamp")))
  }

  // ---------- q24: the E4 SQL-template variant, end-to-end ----------

  /** q24 — the kernel under BOTH SqlTemplate flags (E4,
    * calculate/sql_template.py): extra rate on the mode-1 consumption base
    * instead of internal_cost, and mode-4 `discount_amount` = credit part.
    * Same plan shape as q22 (single fact scan + one rule-index probe; measured:
    * executed-plan strings within 3% of each other in size and runtimes at
    * parity on a quiet host — a round-3 bench reading 12× slower was host
    * steal, visible in that run's steal ticks). This pins the variant
    * semantics end-to-end against the oracle, where ModesSpec pins them
    * per-formula. */
  val q24KernelSqlVariant = QueryDef(
    "q24_kernel_sql_variant",
    taggedSql + kernelSuffixSql(sqlVariant = true)) { (s, d) =>
    import graft.kernel.Modes
    val out = Calculate.calculateWithCredits(
      BillingDemo.fact(s, d), BillingDemo.dim(s, d), BillingDemo.demoExtraDiscount,
      Modes.Mode4DiscountAmount.SqlTemplate, Modes.ExtraDiscountBase.SqlTemplate)
    roundDoubles(
      Conform.conformToTarget(out, lit(etlLiteral).cast("timestamp")))
  }

  // ---------- q40: the rule ladder through the NON-BROADCAST fallback ----------

  /** q40 — q21's rule-match through the single-shuffle fallback ([[RuleMatch.addRuleTagShuffle]], SURVEY §2.3): stacked families + specificity resolution, no broadcast required — same oracle as q21 verbatim, because the strategies must be result-indistinguishable. */
  val q40RuleMatchShuffle = QueryDef(
    "q40_rule_match_shuffle",
    q21RuleMatch.oracle.get) { (s, d) =>
    RuleMatch.addRuleTag(BillingDemo.fact(s, d), BillingDemo.dim(s, d),
        RuleMatch.RuleDimStrategy.Shuffle)
      .select(
        (matchOutKeys.map(col) ++ Seq(
          col("mode"), Stable.r4(col("discount")).as("discount"),
          Stable.r4(col("price")).as("price"),
          col("credit_fields"), col("customer_id"), col("contract_id"))): _*)
  }

  /** q47 — the rule ladder through [[RuleMatch.RuleDimStrategy.Auto]]
    * (round-8 verdict #8): the BYTE-based strategy pick runs for real —
    * dim row count + sampled row width, one dim-only job — then resolves
    * through whichever path it selects (here: Broadcast, since the demo
    * dim is metadata-scale; RuleMatchSpec pins that a wide dim flips the
    * pick). Same oracle as q21 verbatim: the strategy decision must be
    * invisible in the result, and the ×10 gate times the decision overhead
    * at scale (expected ≈ q21's ratio — the estimate jobs are dim-only). */
  val q47RuleMatchAuto = QueryDef(
    "q47_rule_match_auto",
    q21RuleMatch.oracle.get) { (s, d) =>
    RuleMatch.addRuleTag(BillingDemo.fact(s, d), BillingDemo.dim(s, d),
        RuleMatch.RuleDimStrategy.Auto())
      .select(
        (matchOutKeys.map(col) ++ Seq(
          col("mode"), Stable.r4(col("discount")).as("discount"),
          Stable.r4(col("price")).as("price"),
          col("credit_fields"), col("customer_id"), col("contract_id"))): _*)
  }

  // ---------- q39: the streaming kernel, drained and read back ----------

  /** q39's staged fact: one file, so `AvailableNow` drains it as a single
    * micro-batch (the dynamic-overwrite sink then cannot overwrite an
    * earlier batch's partitions — StreamingSpec's staging note), rewritten
    * whenever lineitem.parquet changes
    * ([[graft.streaming.StreamQueries.stagedFrom]]). */
  private def stagedFact(s: org.apache.spark.sql.SparkSession, d: String,
      name: String)(fact: => org.apache.spark.sql.DataFrame): String =
    graft.streaming.StreamQueries.stagedFrom(s, d, "lineitem.parquet", name)(fact)

  /** q39 — the STREAMING kernel as an oracle-checked entry (round-7 verdict
    * item #4): the same pure kernel q22 declares, executed through
    * Structured Streaming — `readStream` over the staged fact →
    * `foreachBatch` kernel → idempotent partitioned sink, drained with
    * `AvailableNow` — then read back and conformed. q22's oracle applies
    * VERBATIM: batch and stream share one kernel, so the nightly job and
    * the live feed provably cannot drift (StreamingSpec additionally pins
    * byte-parity and checkpoint-restart convergence; this makes the claim
    * a standing cross-engine hash check). */
  private def drainStreamingKernel(
      s: org.apache.spark.sql.SparkSession, d: String,
      staged: String): org.apache.spark.sql.DataFrame = {
    val fact = BillingDemo.fact(s, d)
    val dim = BillingDemo.dim(s, d)
    val etl = lit(etlLiteral).cast("timestamp")
    // a fresh run dir per invocation, so every timed run re-executes the
    // full drain; its out dir stays for the lazily-read result below
    val run = graft.streaming.StreamQueries.drain(s, "q39", staged) { (run, source) =>
      graft.streaming.StreamJobs.streamingKernel(
        source(), dim, s"$run/out", s"$run/ckpt",
        BillingDemo.demoExtraDiscount, etlTime = etl)
    }
    // partition columns return from the directory layout with inferred
    // types — realign every column to the conform schema (derived from a
    // 0-row pass through the batch kernel: plan-only, no job), then round
    // exactly like q22
    val template = Conform.conformToTarget(
      Calculate.calculateWithCredits(
        fact.limit(0), dim, BillingDemo.demoExtraDiscount), etl)
    roundDoubles(
      s.read.parquet(s"$run/out")
        .select(template.schema.fields.toIndexedSeq
          .map(f => col(f.name).cast(f.dataType).as(f.name)): _*))
  }

  /** q39 — the streaming kernel as an oracle-checked entry: q22's pure
    * kernel executed through Structured Streaming (`readStream` over the
    * staged fact → `foreachBatch` kernel → idempotent partitioned sink,
    * drained `AvailableNow`, read back) under q22's oracle VERBATIM — a
    * standing cross-engine proof that batch and stream cannot drift. */
  val q39KernelStreaming = QueryDef(
    "q39_kernel_streaming",
    taggedSql + kernelSuffixSql()) { (s, d) =>
    drainStreamingKernel(s, d, stagedFact(s, d, "fact")(BillingDemo.fact(s, d)))
  }

  /** Bench-only machinery calibration for q39 (round-8 verdict #1): the
    * IDENTICAL drain harness over a 1-row staged fact. Everything it costs
    * — checkpoint init, `AvailableNow` planning, commit log, sink read
    * planning — is the fixed streaming latency that can never regress with
    * data (plus one row of work). Bench runs this a few times, takes the
    * minimum, and subtracts it from q39's timed runs, so the reported
    * number isolates the data-dependent work; the calibration value itself
    * is published as `queries_machinery_cal`. */
  val q39MachineryProbe: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
    (s, d) => drainStreamingKernel(s, d,
      stagedFact(s, d, "fact_probe")(BillingDemo.fact(s, d).limit(1)))

  // ---------- q41: the kernel over a PRE-BUCKETED ods (zero-Exchange path) ----------

  /** q41's bucketed ods for data dir `d`: the raw fact (arrays dropped)
    * bucketed on (invoice_month, billing_account_id) — the ingest-time
    * layout that lets the kernel's only shuffle (the grain-13 aggregation)
    * disappear, because a hash partitioning on a SUBSET of the grouping
    * keys already satisfies the aggregation's clustering requirement.
    * Written through [[graft.pipeline.Bucketing.ensureIndex]], checked
    * against lineitem.parquet's fingerprint on every call: written once
    * per source version and bucket count.
    *
    * The bucket count scales with the session's parallelism (optimization
    * round 18): the zero-Exchange property means the bucket count IS the
    * kernel's parallelism — every downstream stage (agg, ladder joins,
    * modes, conform) runs one task per bucket, so a constant 16 halved the
    * whole kernel on 32 cores (the round-17 q41 regression: 30 s of task
    * time in 16 tasks = 2.2 s wall vs q22's 1.0 s at 32). At ingest scale
    * the count would be sized to the cluster the same way; the 16 floor
    * keeps the 8-core bench comparable (two waves of 8). The count is part
    * of the table name, so sessions of different widths keep their own. */
  private def bucketedOds(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import graft.pipeline.Bucketing
    val n = math.max(16, s.sparkContext.defaultParallelism)
    Bucketing.ensureIndex(s,
        Seq(s"graft_q41_ods_${Bucketing.pathKey(d)}_b$n" ->
          Seq("invoice_month", "billing_account_id")),
        n, "_GRAFT_Q41_SPEC", graft.tables.SourceState.fingerprint(d, "lineitem.parquet")) {
      Bucketing.IndexBuild(Seq(
        BillingDemo.rawFact(s, d).drop("credits_type", "credits_amount")))
    }.frames.head
  }

  /** q41 — E1's kernel reading a PRE-BUCKETED ods (round-7 verdict item
    * #6): the grain-13 aggregation plans with ZERO Exchange because the
    * bucketed scan already reports hash partitioning on (invoice_month,
    * billing_account_id) ⊆ the grouping keys — so the ENTIRE kernel plan
    * carries no shuffle at all (the rule index is broadcast; PlanSpec pins it).
    * At 100 TB this is the bucketed-ingest story: pay the ods shuffle once
    * at ingest, and every nightly kernel run afterwards is scan → in-place
    * agg → rule-index probe → write. Results are identical to q22 (layout
    * is not semantics), hence q22's oracle verbatim. */
  val q41KernelBucketed = QueryDef(
    "q41_kernel_bucketed",
    taggedSql + kernelSuffixSql()) { (s, d) =>
    val fact = bucketedOds(s, d)
      .groupBy(BillingDemo.grain13.map(col): _*)
      .agg(Measures.map(m => sum(m).as(m)).head,
        Measures.tail.map(m => sum(m).as(m)): _*)
    val out = Calculate.calculateWithCredits(
      fact, BillingDemo.dim(s, d), BillingDemo.demoExtraDiscount)
    roundDoubles(
      Conform.conformToTarget(out, lit(etlLiteral).cast("timestamp")))
  }

  // ---------- q38: decimal fixed-point money, end-to-end vs a DECIMAL oracle ----------

  /** Quantized fact: money measures fixed to 4 decimals BEFORE entering the
    * decimal kernel. That is the real-world fixed-point shape — billing
    * inputs are cents/micros, not arbitrary binary doubles (the demo fact's
    * doubles only exist because the fixture derives money from TPC-H
    * floats) — and it makes the double→DECIMAL boundary engine-stable:
    * `Stable.r4` is the same IEEE ops in Spark and DuckDB, and a 4-decimal
    * double fixes to DECIMAL(18,9) identically everywhere, while an
    * arbitrary double's 9th-decimal rounding depends on engine conversion
    * internals (shortest-representation vs scaled-multiply). */
  private val factQuantSql: String = {
    val cols = Measures.map(m => s"${Stable.sqlR4(m)} AS $m")
    s"""SELECT ${BillingDemo.grain13.mkString(", ")},
       |  ${cols.mkString(",\n  ")}
       |FROM (${BillingDemo.factSql.replace("\n", "\n  ")})""".stripMargin
  }

  /** The kernel suffix re-stated in DECIMAL(18,9) fixed-point — the q38
    * oracle, mirroring [[graft.kernel.Modes]]' decimal path 1:1: operands
    * and every operation result are (re)fixed to DECIMAL(18,9). Additions
    * and single products are EXACT at the widened intermediate types of
    * both engines (Spark decimal(37,18) / DuckDB decimal(36,18) — the
    * reason MoneyDecimal is 18 digits, see Modes.MoneyDecimal), so the
    * only live rounding is the same money-scale fix Spark applies; the
    * division runs in IEEE doubles exactly like Modes' `mdiv`. */
  private val kernelSuffixSqlDecimal: String = {
    def dec(e: String) = s"CAST(($e) AS DECIMAL(18,9))"
    val one = dec("1.0")
    val zero = dec("0.0")
    val rate = dec(BillingDemo.extraRateDoubleSql)
    val priceEff = s"coalesce(${dec("price")}, $one)"
    val discEff = s"coalesce(${dec("discount")}, $one)"
    val selectedSum = CreditColumns
      .map(c =>
        s"(CASE WHEN list_contains(string_split(coalesce(credit_fields, ''), '/'), '$c') THEN ${dec(c)} ELSE $zero END)")
      .mkString("\n      + ")
    val outCols = BillingSchema.TargetColumns.map {
      case "etl_time" => s"TIMESTAMP '$etlLiteral' AS etl_time"
      case "usage_day" => "usage_day"
      case "mode" => "cast(coalesce(mode, 0) AS INTEGER) AS mode"
      case c if BillingSchema.NullableStringCols.contains(c) => c
      case c if BillingSchema.StringDefaultCols.contains(c) => s"coalesce($c, '') AS $c"
      case c => s"${Stable.sqlR4(s"CAST(coalesce($c, 0.0) AS DOUBLE)")} AS $c"
    }.mkString(",\n  ")
    s""",
       |derived AS (
       |  SELECT *,
       |    ${dec(s"${dec(s"${dec("cost")} + ${dec("internal_credits_cost")}")} * $rate")} AS internal_cost,
       |    ${dec(s"${dec("cost")} + ${dec("internal_credits_consumption")}")} AS internal_consumption,
       |    CASE WHEN $priceEff != 0
       |         THEN ${dec(s"CAST(($selectedSum) AS DOUBLE) / CAST($priceEff AS DOUBLE)")}
       |         ELSE $zero END AS m4part
       |  FROM tagged),
       |finished AS (
       |  SELECT *,
       |    CASE mode
       |      WHEN 1 THEN ${dec(s"${dec(s"internal_consumption * $one")} * ${dec("discount")}")}
       |      WHEN 2 THEN ${dec(s"${dec("usage_amount_in_pricing_units")} * ${dec("price")}")}
       |      WHEN 3 THEN ${dec(s"${dec(s"${dec("usage_amount_in_pricing_units")} * ${dec("price")}")} * ${dec("discount")}")}
       |      WHEN 4 THEN ${dec(s"${dec(s"${dec("cost_at_list")} * $discEff")} + ${dec(s"m4part * $discEff")}")}
       |      ELSE $zero END AS external_consumption,
       |    CASE mode
       |      WHEN 1 THEN ${dec("internal_credits_consumption")}
       |      ELSE $zero END AS discount_amount
       |  FROM derived)
       |SELECT
       |  $outCols
       |FROM finished""".stripMargin
  }

  /** q38 — the FULL kernel under `decimalMoney = true`, hash-checked
    * against an independent engine computing in exact DECIMAL (SURVEY
    * §1.2's sanctioned improvement, end-to-end; DecimalMoneySpec pins the
    * flag per-formula against hand constants, this pins the whole
    * pipeline). Same tagged prologue as q22 but over the 4-decimal
    * quantized fact; live-Python discrepancy flags, like q22. */
  val q38KernelDecimal = QueryDef(
    "q38_kernel_decimal",
    taggedSqlFor(factQuantSql) + kernelSuffixSqlDecimal) { (s, d) =>
    val f = BillingDemo.fact(s, d)
    val factQ = f.select((BillingDemo.grain13.map(col) ++
      Measures.map(mm => Stable.r4(col(mm)).as(mm))): _*)
    val out = Calculate.calculateWithCredits(
      factQ, BillingDemo.dim(s, d), BillingDemo.demoExtraDiscount,
      decimalMoney = true)
    roundDoubles(
      Conform.conformToTarget(out, lit(etlLiteral).cast("timestamp")))
  }

  val all: Seq[QueryDef] =
    Seq(q20CreditsPivot, q21RuleMatch, q22KernelFull, q23KernelFromArrays,
      q24KernelSqlVariant, q38KernelDecimal, q39KernelStreaming,
      q40RuleMatchShuffle, q41KernelBucketed, q47RuleMatchAuto)
}
