package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernel.BillingSchema.Measures
import graft.tables.{SourceState, Tables}

/** Deterministic billing-shaped fact/dim derived from the TPC-H testdata, so
  * the billing kernel (graft.kernel) can be oracle-checked end-to-end: the
  * driver has no billing tables, so we derive them — identically — in both
  * Spark (DataFrame API) and DuckDB SQL. Every expression here must have a
  * bit-identical twin in the SQL strings below; keep them in lockstep.
  *
  * Mapping: lineitem → fact rows (l_suppkey%20 → 20 billing accounts,
  * l_partkey → project/service/sku attributes, l_discount-scaled credits);
  * a synthetic 40-rule × month dim covering all 8 null-pattern families,
  * all 5 modes, null/zero price and discount guards, and null credit_fields.
  */
object BillingDemo {

  // ---------- raw per-row fact (with credit arrays) ----------

  val rawFactSql: String =
    """SELECT
      |  l_orderkey, l_linenumber,
      |  strftime(l_shipdate, '%Y%m')                             AS invoice_month,
      |  'A' || lpad(cast(l_suppkey % 20 AS VARCHAR), 3, '0')     AS billing_account_id,
      |  cast(l_shipdate AS DATE)                                 AS usage_day,
      |  'p' || cast(l_partkey % 3 AS VARCHAR)                    AS project_id,
      |  'proj ' || cast(l_partkey % 3 AS VARCHAR)                AS project_name,
      |  'svc' || cast(l_partkey % 4 AS VARCHAR)                  AS service_id,
      |  'service ' || cast(l_partkey % 4 AS VARCHAR)             AS service_description,
      |  'sku' || cast(l_partkey % 5 AS VARCHAR)                  AS sku_id,
      |  'sku desc ' || cast(l_partkey % 5 AS VARCHAR)            AS sku_description,
      |  'unit'                                                   AS usage_pricing_unit,
      |  'USD'                                                    AS currency,
      |  1.0                                                      AS currency_conversion_rate,
      |  l_returnflag                                             AS cost_type,
      |  l_quantity                                               AS usage_amount_in_pricing_units,
      |  l_extendedprice * (1 - l_discount)                       AS cost,
      |  l_extendedprice                                          AS cost_at_list,
      |  l_extendedprice * l_discount * 0.4                       AS c_cud,
      |  0.0                                                      AS c_cud_db,
      |  l_extendedprice * l_discount * 0.3                       AS c_discount,
      |  0.0                                                      AS c_free_tier,
      |  l_extendedprice * l_discount * 0.2                       AS c_promotion,
      |  l_extendedprice * l_discount * 0.1                       AS c_rm,
      |  0.0                                                      AS c_sub_benefit,
      |  0.0                                                      AS c_sud,
      |  l_extendedprice * l_discount * 0.4 + l_extendedprice * l_discount * 0.3
      |    + l_extendedprice * l_discount * 0.2 + l_extendedprice * l_discount * 0.1
      |                                                           AS internal_credits_cost,
      |  l_extendedprice * l_discount * 0.4 + l_extendedprice * l_discount * 0.3
      |    + l_extendedprice * l_discount * 0.2
      |                                                           AS internal_credits_consumption,
      |  ['COMMITTED_USAGE_DISCOUNT', 'DISCOUNT', 'PROMOTION', 'RESELLER_MARGIN', 'MYSTERY_TYPE']
      |                                                           AS credits_type,
      |  [l_extendedprice * l_discount * 0.4, l_extendedprice * l_discount * 0.3,
      |   l_extendedprice * l_discount * 0.2, l_extendedprice * l_discount * 0.1, l_tax]
      |                                                           AS credits_amount
      |FROM lineitem""".stripMargin

  def rawFact(spark: SparkSession, dir: String): DataFrame =
    rawFactFrom(Tables.lineitem(spark, dir))

  /** [[rawFact]]'s projection over a caller-supplied lineitem frame — the
    * expressions stay in ONE place so widened callers cannot drift from
    * the SQL twin above. */
  private def rawFactFrom(li: DataFrame): DataFrame = {
    val d = col("l_discount"); val p = col("l_extendedprice")
    li.select(
      col("l_orderkey"), col("l_linenumber"),
      date_format(col("l_shipdate"), "yyyyMM").as("invoice_month"),
      concat(lit("A"), lpad((col("l_suppkey") % 20).cast("string"), 3, "0"))
        .as("billing_account_id"),
      col("l_shipdate").cast("date").as("usage_day"),
      concat(lit("p"), (col("l_partkey") % 3).cast("string")).as("project_id"),
      concat(lit("proj "), (col("l_partkey") % 3).cast("string")).as("project_name"),
      concat(lit("svc"), (col("l_partkey") % 4).cast("string")).as("service_id"),
      concat(lit("service "), (col("l_partkey") % 4).cast("string")).as("service_description"),
      concat(lit("sku"), (col("l_partkey") % 5).cast("string")).as("sku_id"),
      concat(lit("sku desc "), (col("l_partkey") % 5).cast("string")).as("sku_description"),
      lit("unit").as("usage_pricing_unit"),
      lit("USD").as("currency"),
      lit(1.0).as("currency_conversion_rate"),
      col("l_returnflag").as("cost_type"),
      col("l_quantity").as("usage_amount_in_pricing_units"),
      (p * (lit(1) - d)).as("cost"),
      p.as("cost_at_list"),
      (p * d * 0.4).as("c_cud"),
      lit(0.0).as("c_cud_db"),
      (p * d * 0.3).as("c_discount"),
      lit(0.0).as("c_free_tier"),
      (p * d * 0.2).as("c_promotion"),
      (p * d * 0.1).as("c_rm"),
      lit(0.0).as("c_sub_benefit"),
      lit(0.0).as("c_sud"),
      (p * d * 0.4 + p * d * 0.3 + p * d * 0.2 + p * d * 0.1).as("internal_credits_cost"),
      (p * d * 0.4 + p * d * 0.3 + p * d * 0.2).as("internal_credits_consumption"),
      array(
        lit("COMMITTED_USAGE_DISCOUNT"), lit("DISCOUNT"), lit("PROMOTION"),
        lit("RESELLER_MARGIN"), lit("MYSTERY_TYPE")).as("credits_type"),
      array(p * d * 0.4, p * d * 0.3, p * d * 0.2, p * d * 0.1, col("l_tax"))
        .as("credits_amount"))
  }

  // ---------- pre-aggregated fact at the 13-key grain (A2) ----------

  val grain13: Seq[String] = Seq(
    "invoice_month", "billing_account_id", "usage_day", "project_id",
    "project_name", "service_id", "service_description", "sku_id",
    "sku_description", "usage_pricing_unit", "currency",
    "currency_conversion_rate", "cost_type")

  val factSql: String = {
    val sums = Measures.map(m => s"sum($m) AS $m").mkString(",\n  ")
    s"""SELECT ${grain13.mkString(", ")},
       |  $sums
       |FROM (${rawFactSql.replace("\n", "\n  ")})
       |GROUP BY ${grain13.mkString(", ")}""".stripMargin
  }

  /** The four NARROW columns that determine the 13-key grain bijectively:
    * every grain-13 column is a deterministic injective function of
    * (usage_day, l_suppkey % 20, l_partkey % 60, l_returnflag) —
    * `invoice_month` = yyyyMM of usage_day, `billing_account_id` ↔ %20,
    * (project %3, service %4, sku %5) ↔ %60 by CRT (3·4·5 = 60), the
    * pricing-unit/currency columns are constants, `cost_type` IS
    * l_returnflag — and conversely the narrow tuple is recoverable from
    * the grain columns, so the two groupings induce IDENTICAL equivalence
    * classes and identical per-group sums.
    *
    * Optimization round 17 (guide §2.3: narrower types, project before the
    * exchange): aggregating on the narrow tuple instead of the 13 derived
    * strings removes ~10 per-ROW string concats from the scan projection
    * and hashes 4 narrow keys instead of 13 strings in the partial
    * aggregate — the kernel queries' dominant map stage (measured 2.6 s of
    * q22's 4.7 s at sf0.1, 3 scan tasks) — and the exchange carries the
    * narrow keys. The grain strings are derived per GROUP after the final
    * aggregate ([[grainFromNarrow]]). Results are identical (same groups,
    * same summed values; the DuckDB oracle is unchanged and hash-checks
    * it). */
  private def narrowRaw(spark: SparkSession, dir: String): DataFrame = {
    val d = col("l_discount"); val p = col("l_extendedprice")
    Tables.lineitem(spark, dir).select(
      col("l_shipdate").cast("date").as("usage_day"),
      (col("l_suppkey") % 20).as("__acct"),
      (col("l_partkey") % 60).as("__part"),
      col("l_returnflag").as("cost_type"),
      col("l_quantity").as("usage_amount_in_pricing_units"),
      (p * (lit(1) - d)).as("cost"),
      p.as("cost_at_list"),
      (p * d * 0.4).as("c_cud"),
      lit(0.0).as("c_cud_db"),
      (p * d * 0.3).as("c_discount"),
      lit(0.0).as("c_free_tier"),
      (p * d * 0.2).as("c_promotion"),
      (p * d * 0.1).as("c_rm"),
      lit(0.0).as("c_sub_benefit"),
      lit(0.0).as("c_sud"),
      (p * d * 0.4 + p * d * 0.3 + p * d * 0.2 + p * d * 0.1).as("internal_credits_cost"),
      (p * d * 0.4 + p * d * 0.3 + p * d * 0.2).as("internal_credits_consumption"),
      array(
        lit("COMMITTED_USAGE_DISCOUNT"), lit("DISCOUNT"), lit("PROMOTION"),
        lit("RESELLER_MARGIN"), lit("MYSTERY_TYPE")).as("credits_type"),
      array(p * d * 0.4, p * d * 0.3, p * d * 0.2, p * d * 0.1, col("l_tax"))
        .as("credits_amount"))
  }

  /** q20's widened raw fact (optimization round 18, the [[widenNarrow]]
    * discipline applied to the pivot path): the sf0.1 lineitem parquet is
    * 3 splits, so q20's per-row work (the 13-column raw projection + the
    * credit-array fold) ran on 3 of 32 cores (measured: 1.9 task-sec on a
    * 3-task stage, 1.8 s wall of q20's 2.7 s). Hash-repartitioning the
    * SCAN output on exactly q20's (l_orderkey, l_linenumber) grouping
    * keys runs the projection post-exchange at full width, and the
    * aggregation REUSES the exchange (same Exchange count — guide §2.4);
    * the exchange carries only the 5 pruned raw columns (the constant
    * credits_type array and the derived strings are built after it).
    * Shares [[widenNarrow]]'s decision. */
  private[queries] def rawFactWidenedForPivot(spark: SparkSession, dir: String): DataFrame =
    rawFactFrom(widenFact(dir, Tables.lineitem(spark, dir),
      col("l_orderkey"), col("l_linenumber")))

  /** q23's narrow twin: the narrow keys + raw measures + credit ARRAYS
    * (the precomputed c_* columns dropped — the caller re-derives them
    * from the arrays, exactly like `rawFact.drop(c_*)`). */
  private[queries] def narrowRawForArrays(spark: SparkSession, dir: String): DataFrame =
    narrowRaw(spark, dir).drop(Measures.drop(3): _*)

  /** grain-13 string columns derived per GROUP after a narrow-key
    * aggregation — the twin of [[rawFact]]'s per-row derivations (same
    * expressions over the narrow keys, so the strings are identical). */
  private[queries] def grainFromNarrow(agged: DataFrame): DataFrame =
    agged.select(
      (Seq(
        date_format(col("usage_day"), "yyyyMM").as("invoice_month"),
        concat(lit("A"), lpad(col("__acct").cast("string"), 3, "0"))
          .as("billing_account_id"),
        col("usage_day"),
        concat(lit("p"), (col("__part") % 3).cast("string")).as("project_id"),
        concat(lit("proj "), (col("__part") % 3).cast("string")).as("project_name"),
        concat(lit("svc"), (col("__part") % 4).cast("string")).as("service_id"),
        concat(lit("service "), (col("__part") % 4).cast("string")).as("service_description"),
        concat(lit("sku"), (col("__part") % 5).cast("string")).as("sku_id"),
        concat(lit("sku desc "), (col("__part") % 5).cast("string")).as("sku_description"),
        lit("unit").as("usage_pricing_unit"),
        lit("USD").as("currency"),
        lit(1.0).as("currency_conversion_rate"),
        col("cost_type")) ++ Measures.map(col)): _*)

  /** The four narrow grouping keys (see [[narrowRaw]]). */
  private[queries] val narrowKeys: Seq[String] =
    Seq("usage_day", "__acct", "__part", "cost_type")

  /** Conditional widen of the fact scan, KEYED BY THE NARROW GROUPING KEYS
    * (optimization round 18, guide §2.4/§2.5): the sf0.1 lineitem parquet
    * is 3 splits, so the per-row fact stage (q23's credit-array pivot, the
    * narrow partial aggregate) ran on 3 of 32 cores — measured 1.4 s wall
    * of q23's 3.75 s. Hash-repartitioning on exactly the grouping keys
    * replaces (not adds to) the aggregation's ENSURE_REQUIREMENTS exchange
    * — same exchange count, per-row work post-exchange at full width, and
    * the aggregate plans as one complete-mode hash agg (the partial pass
    * over ~600k rows → ~580k groups saved nothing anyway). */
  private[queries] def widenNarrow(dir: String, df: DataFrame): DataFrame =
    widenFact(dir, df, narrowKeys.map(col): _*)

  /** [[SourceState.widen]] for a projection of the lineitem scan under
    * `dir`: projections keep the scan's splits, so every fact frame shares
    * one decision (and one planning pass to make it). */
  private def widenFact(dir: String, df: DataFrame, keys: Column*): DataFrame =
    SourceState.widenRead(dir, "lineitem.parquet", "fact scan", df, keys: _*)

  def fact(spark: SparkSession, dir: String): DataFrame =
    grainFromNarrow(
      widenNarrow(dir,
        narrowRaw(spark, dir).drop("credits_type", "credits_amount"))
        .groupBy(narrowKeys.map(col): _*)
        .agg(Measures.map(m => sum(m).as(m)).head,
          Measures.tail.map(m => sum(m).as(m)): _*))

  // ---------- synthetic dim: 41 rules × every fact month ----------
  // rid=40 deliberately duplicates rid=0's family-1 keys (A000, wildcard
  // specializers, every month) with a payload that LOSES the deterministic
  // first-match sort (price 1.5 vs NULL, nulls first) — it exercises the
  // within-family dedup on BOTH the Spark side (RuleMatch.family) and the
  // oracle (familySql's row_number); a regression in either diverges q21-q23.

  val dimSql: String =
    """SELECT
      |  m.month,
      |  'A' || lpad(cast(r.rid % 20 AS VARCHAR), 3, '0')  AS billing_account_id,
      |  CASE WHEN (r.rid % 8) % 2 = 1
      |       THEN 'p' || cast(r.rid % 3 AS VARCHAR) END    AS project_id,
      |  CASE WHEN ((r.rid % 8) // 2) % 2 = 1
      |       THEN 'service ' || cast(r.rid % 4 AS VARCHAR) END AS service_description,
      |  CASE WHEN (r.rid % 8) // 4 = 1
      |       THEN 'sku' || cast(r.rid % 5 AS VARCHAR) END  AS sku_id,
      |  CASE WHEN r.rid % 13 = 12 THEN NULL
      |       ELSE cast(r.rid % 5 AS INTEGER) END           AS mode,
      |  CASE r.rid % 4 WHEN 0 THEN NULL WHEN 1 THEN 0.75
      |       WHEN 2 THEN 0.8 ELSE 0.85 END                 AS discount,
      |  CASE r.rid % 6 WHEN 0 THEN NULL WHEN 1 THEN 0.0 WHEN 2 THEN 1.0
      |       WHEN 3 THEN 1.25 WHEN 4 THEN 1.5 ELSE 2.0 END AS price,
      |  CASE r.rid % 3 WHEN 0 THEN 'c_cud/c_promotion'
      |       WHEN 1 THEN 'c_discount/c_rm' ELSE NULL END   AS credit_fields,
      |  CASE WHEN r.rid % 5 = 0 THEN NULL
      |       ELSE 'CUST-' || cast(r.rid % 9 AS VARCHAR) END AS customer_id,
      |  'CTR-' || cast(r.rid AS VARCHAR)                   AS contract_id
      |FROM (SELECT range AS rid FROM range(0, 41)) r
      |CROSS JOIN (SELECT DISTINCT strftime(l_shipdate, '%Y-%m') AS month FROM lineitem) m""".stripMargin

  /** Month list for the demo dim, collected ONCE per version of the
    * lineitem table. The fact-month set is bounded metadata (≤ dozens of
    * values at any SF), but leaving it as a subquery embeds a full lineitem
    * scan+distinct in the dim's plan — which the rule-match ladder then
    * re-executes with every dim pass (once per broadcast subtree, 8
    * redundant fact scans per kernel query, in the old 8-join ladder). */
  private def monthsOf(spark: SparkSession, dir: String): Seq[String] =
    SourceState.memo(dir, "lineitem.parquet", "fact months")(
      Tables.lineitem(spark, dir)
        .select(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
        .distinct().collect().map(_.getString(0)).sorted.toSeq)

  def dim(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val months = monthsOf(spark, dir).toDF("month")
    val rid = col("rid")
    val pat = rid % 8
    // ONE partition, not defaultParallelism (optimization round 18): the
    // 41-row rule generator otherwise plans 32 near-empty map tasks into
    // every consumer's dim subtree, and each kernel query paid ~8 s of
    // summed task time there — almost all of it the 32 tasks serializing
    // on the same whole-stage-codegen compile (uniform ~0.25 s/task on a
    // 41-row input; wall ≈ one compile). The dim is bounded metadata at
    // any scale, so single-partition construction is the honest shape.
    spark.range(0, 41, 1, 1).toDF("rid")
      .crossJoin(broadcast(months))
      .select(
        col("month"),
        concat(lit("A"), lpad((rid % 20).cast("string"), 3, "0")).as("billing_account_id"),
        when(pat % 2 === 1, concat(lit("p"), (rid % 3).cast("string"))).as("project_id"),
        when((pat / 2).cast("long") % 2 === 1,
          concat(lit("service "), (rid % 4).cast("string"))).as("service_description"),
        when((pat / 4).cast("long") === 1,
          concat(lit("sku"), (rid % 5).cast("string"))).as("sku_id"),
        when(rid % 13 === 12, lit(null))
          .otherwise((rid % 5).cast("int")).as("mode"),
        when(rid % 4 === 0, lit(null).cast("double"))
          .when(rid % 4 === 1, 0.75).when(rid % 4 === 2, 0.8).otherwise(0.85).as("discount"),
        when(rid % 6 === 0, lit(null).cast("double"))
          .when(rid % 6 === 1, 0.0).when(rid % 6 === 2, 1.0)
          .when(rid % 6 === 3, 1.25).when(rid % 6 === 4, 1.5).otherwise(2.0).as("price"),
        when(rid % 3 === 0, "c_cud/c_promotion")
          .when(rid % 3 === 1, "c_discount/c_rm").otherwise(lit(null)).as("credit_fields"),
        when(rid % 5 === 0, lit(null))
          .otherwise(concat(lit("CUST-"), (rid % 9).cast("string"))).as("customer_id"),
        concat(lit("CTR-"), rid.cast("string")).as("contract_id"))
  }

  /** Demo extra-discount map (structure of calculate/service.py:189-199,
    * demo account ids). Twin of [[extraRateSql]]. */
  val demoExtraDiscount: Map[String, Double] = Map(
    "A003" -> 0.975, "A007" -> 0.88, "A013" -> (28.5 / 27.2))

  val extraRateSql: String =
    """CASE billing_account_id WHEN 'A003' THEN 0.975 WHEN 'A007' THEN 0.88
      |     WHEN 'A013' THEN 28.5/27.2 ELSE 1.0 END""".stripMargin.replace("\n", " ")

  /** [[extraRateSql]] with the A013 ratio as an explicit DOUBLE division.
    * The decimal oracle (q38) fixes this rate to DECIMAL(18,9), and the
    * IEEE quotient Scala bakes into [[demoExtraDiscount]] is only
    * guaranteed to match when the oracle divides in doubles too (DuckDB
    * would otherwise divide the DECIMAL literals under its own rules). */
  val extraRateDoubleSql: String =
    """CASE billing_account_id WHEN 'A003' THEN 0.975 WHEN 'A007' THEN 0.88
      |     WHEN 'A013' THEN CAST(28.5 AS DOUBLE)/CAST(27.2 AS DOUBLE) ELSE 1.0 END"""
      .stripMargin.replace("\n", " ")
}
