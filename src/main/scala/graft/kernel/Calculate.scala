package graft.kernel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType}

/** The whole engine as one pure `DataFrame → DataFrame` function
  * (ref: calculate/service.py:140-185). Two entry paths:
  *
  *  - [[calculateWithCredits]] — trusts the pre-aggregated `c_*` /
  *    internal-credit columns (the live production path,
  *    calculate/service.py:164-185);
  *  - [[calculate]] — first derives them from the raw
  *    `credits_type`/`credits_amount` arrays (the dormant path,
  *    calculate/service.py:140-162).
  *
  * The reference's driver-side semi-join prune of the dim to the fact's
  * accounts (calculate/service.py:166-168) is an optimization, not
  * semantics — subsumed here by broadcasting the (small) dim.
  */
object Calculate {

  /** `decimalMoney` opts the kernel's money arithmetic into DECIMAL(18,9)
    * fixed-point (see [[Modes.MoneyDecimal]]); default stays IEEE double
    * for reference/oracle parity. `ruleStrategy` selects how the rule dim
    * joins (see [[RuleMatch.RuleDimStrategy]]) — the broadcast ladder by
    * default, the single-shuffle fallback when contract metadata outgrows
    * broadcast size. */
  def calculateWithCredits(
      fact: DataFrame, dim: DataFrame,
      extraDiscount: Map[String, Double] = Map.empty,
      mode4DiscountAmount: Modes.Mode4DiscountAmount =
        Modes.Mode4DiscountAmount.LivePython,
      extraDiscountBase: Modes.ExtraDiscountBase =
        Modes.ExtraDiscountBase.LivePython,
      decimalMoney: Boolean = false,
      ruleStrategy: RuleMatch.RuleDimStrategy =
        RuleMatch.RuleDimStrategy.Broadcast): DataFrame =
    Modes(RuleMatch.addRuleTag(fact, dim, ruleStrategy), extraDiscount,
      mode4DiscountAmount, extraDiscountBase, decimalMoney)

  def calculate(
      rawFact: DataFrame, dim: DataFrame,
      extraDiscount: Map[String, Double] = Map.empty,
      mode4DiscountAmount: Modes.Mode4DiscountAmount =
        Modes.Mode4DiscountAmount.LivePython,
      extraDiscountBase: Modes.ExtraDiscountBase =
        Modes.ExtraDiscountBase.LivePython,
      decimalMoney: Boolean = false,
      ruleStrategy: RuleMatch.RuleDimStrategy =
        RuleMatch.RuleDimStrategy.Broadcast): DataFrame =
    calculateWithCredits(
      Credits.deriveCredits(rawFact), dim, extraDiscount, mode4DiscountAmount,
      extraDiscountBase, decimalMoney, ruleStrategy)
}

/** S6 — conform-to-target-table (ref: billing_calculation_service.py:330-435).
  * Orders/completes the 37 output columns, applies the reference's default
  * fills ('' for non-nullable strings, 0.0 for numerics, 0 for mode;
  * `customer_id`/`contract_id` stay null), and injects `etl_time`.
  */
object Conform {

  import BillingSchema._

  /** @param etlTime injectable for deterministic tests/oracles
    *                (SURVEY.md §7.4 risk 5). The default is the time of
    *                the call, one value on every row, bound by reference
    *                (`VectorFunctions.boundNow`) rather than folded into a
    *                literal, so repeated calls reuse one compiled stage. */
  def conformToTarget(df: DataFrame,
                      etlTime: Column = graft.functions.VectorFunctions.boundNow()): DataFrame = {
    val present = df.columns.toSet
    val cols: Seq[Column] = TargetColumns.map {
      case "etl_time" =>
        (if (present("etl_time")) col("etl_time") else etlTime).as("etl_time")
      case c if NullableStringCols.contains(c) =>
        (if (present(c)) col(c).cast(StringType) else lit(null).cast(StringType)).as(c)
      case c if StringDefaultCols.contains(c) =>
        (if (present(c)) coalesce(col(c).cast(StringType), lit(""))
         else lit("")).as(c)
      case "mode" =>
        (if (present("mode")) coalesce(col("mode").cast(IntegerType), lit(0))
         else lit(0)).as("mode")
      case "usage_day" => col("usage_day")
      case c => // numeric with 0.0 default
        (if (present(c)) coalesce(col(c).cast(DoubleType), lit(0.0))
         else lit(0.0)).as(c)
    }
    df.select(cols: _*)
  }
}
