package graft.kernel

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class ModesSpec extends SparkSpec {
  import Fixtures._

  /** Runs the full kernel on one fact row + rules; returns the single row. */
  private def one(f: Fact, rules: Seq[Rule],
                  extra: Map[String, Double] = Map.empty,
                  m4da: Modes.Mode4DiscountAmount =
                    Modes.Mode4DiscountAmount.LivePython,
                  edBase: Modes.ExtraDiscountBase =
                    Modes.ExtraDiscountBase.LivePython): Row = {
    import spark.implicits._
    val out = Calculate.calculateWithCredits(
      Seq(f).toDF(), rules.toDF(), extra, m4da, edBase)
    val rows = out.select("internal_cost", "internal_consumption",
      "external_consumption", "discount_amount", "mode").collect()
    assert(rows.length == 1)
    rows.head
  }

  private val base = fact("A").copy(
    cost = 100.0, cost_at_list = 120.0, usage_amount_in_pricing_units = 10.0,
    c_cud = 6.0, c_promotion = 3.0, c_rm = 2.0,
    internal_credits_cost = 11.0, internal_credits_consumption = 9.0)

  test("derived cost columns (ref calculate/service.py:177-178)") {
    val r = one(base, Seq(Rule("2026-01", "A", mode = Some(1), discount = Some(0.8))))
    assert(r.getAs[Double]("internal_cost") == 111.0)        // cost + icc
    assert(r.getAs[Double]("internal_consumption") == 109.0) // cost + iccons
  }

  test("mode 1: external = internal_consumption * discount; da = iccons") {
    val r = one(base, Seq(Rule("2026-01", "A", mode = Some(1), discount = Some(0.8))))
    assert(math.abs(r.getAs[Double]("external_consumption") - 109.0 * 0.8) < 1e-9)
    assert(r.getAs[Double]("discount_amount") == 9.0)
  }

  test("mode 2: external = usage * price") {
    val r = one(base, Seq(Rule("2026-01", "A", mode = Some(2), price = Some(2.5))))
    assert(r.getAs[Double]("external_consumption") == 25.0)
    assert(r.getAs[Double]("discount_amount") == 0.0)
  }

  test("mode 3: external = usage * price * discount") {
    val r = one(base, Seq(Rule("2026-01", "A", mode = Some(3), price = Some(2.0), discount = Some(0.9))))
    assert(math.abs(r.getAs[Double]("external_consumption") - 18.0) < 1e-9)
  }

  test("mode 4: external = cost_at_list*disc + (Σ selected credits / price)*disc") {
    val r = one(base, Seq(Rule("2026-01", "A", mode = Some(4), price = Some(2.0),
      discount = Some(0.5), credit_fields = Some("c_cud/c_promotion"))))
    // selected = 6 + 3 = 9; part = 9/2 = 4.5; external = 120*0.5 + 4.5*0.5
    assert(math.abs(r.getAs[Double]("external_consumption") - 62.25) < 1e-9)
  }

  test("mode 4 discount_amount stays 0.0 by default: the live pandas path " +
    "projects only external_consumption out of the row-apply " +
    "(calculate/service.py:79-81), dropping the credit_part assignment (:98)") {
    val r = one(base, Seq(Rule("2026-01", "A", mode = Some(4), price = Some(2.0),
      discount = Some(0.5), credit_fields = Some("c_cud/c_promotion"))))
    assert(r.getAs[Double]("discount_amount") == 0.0)
  }

  test("mode 4 discount_amount = credit_part under the SqlTemplate opt-in " +
    "(calculate/sql_template.py:184-190)") {
    val r = one(base, Seq(Rule("2026-01", "A", mode = Some(4), price = Some(2.0),
      discount = Some(0.5), credit_fields = Some("c_cud/c_promotion"))),
      m4da = Modes.Mode4DiscountAmount.SqlTemplate)
    assert(math.abs(r.getAs[Double]("discount_amount") - 4.5) < 1e-9)
  }

  test("mode 4 guards: price=0 drops the credit part") {
    val r = one(base, Seq(Rule("2026-01", "A", mode = Some(4), price = Some(0.0),
      discount = Some(0.5), credit_fields = Some("c_cud"))))
    assert(r.getAs[Double]("external_consumption") == 60.0) // only cost_at_list*disc
    assert(r.getAs[Double]("discount_amount") == 0.0)
  }

  test("mode 4 guards: null price→1.0, null discount→1.0 (ref :87-88)") {
    val r = one(base, Seq(Rule("2026-01", "A", mode = Some(4),
      credit_fields = Some("c_cud"))))
    // part = 6/1 = 6; external = 120*1 + 6*1
    assert(r.getAs[Double]("external_consumption") == 126.0)
  }

  test("mode 4: empty/null credit_fields ⇒ no credit part") {
    val r = one(base, Seq(Rule("2026-01", "A", mode = Some(4), price = Some(2.0),
      discount = Some(1.0))))
    assert(r.getAs[Double]("external_consumption") == 120.0)
  }

  test("unmatched fact rows: external stays 0, mode null") {
    val r = one(base, Seq(Rule("2026-01", "OTHER", mode = Some(1), discount = Some(0.5))))
    assert(r.getAs[Any]("mode") == null)
    assert(r.getAs[Double]("external_consumption") == 0.0)
  }

  test("extra discount defaults OFF: the reference map is a fixture, not the default") {
    // SURVEY §7.1: deployment config, not engine code — rate 1.0 unless passed
    val r = one(base, Seq(Rule("2026-01", "A", mode = Some(1), discount = Some(0.8))))
    assert(r.getAs[Double]("internal_cost") == 111.0)
    assert(Modes.ReferenceExtraDiscount.size == 24) // parity fixture intact
  }

  test("extra discount multiplies internal_cost only (ref :209)") {
    val r = one(base, Seq(Rule("2026-01", "A", mode = Some(1), discount = Some(0.8))),
      extra = Map("A" -> 0.88))
    assert(math.abs(r.getAs[Double]("internal_cost") - 111.0 * 0.88) < 1e-9)
    // external (mode 1) uses internal_consumption — unaffected
    assert(math.abs(r.getAs[Double]("external_consumption") - 109.0 * 0.8) < 1e-9)
  }

  test("extra discount under the SqlTemplate base opt-in multiplies the mode-1 " +
    "consumption base, not internal_cost (calculate/sql_template.py:130,175)") {
    val r = one(base, Seq(Rule("2026-01", "A", mode = Some(1), discount = Some(0.8))),
      extra = Map("A" -> 0.88), edBase = Modes.ExtraDiscountBase.SqlTemplate)
    // internal_cost keeps the un-discounted value (no factor in the SQL twin)
    assert(r.getAs[Double]("internal_cost") == 111.0)
    // exported internal_consumption stays the base (sql_template.py:171)
    assert(r.getAs[Double]("internal_consumption") == 109.0)
    // only mode-1 external consumes the discounted base
    assert(math.abs(r.getAs[Double]("external_consumption") - 109.0 * 0.88 * 0.8) < 1e-9)
  }

  test("SqlTemplate extra-discount base leaves modes 2-4 untouched") {
    val r = one(base, Seq(Rule("2026-01", "A", mode = Some(2), price = Some(2.5))),
      extra = Map("A" -> 0.88), edBase = Modes.ExtraDiscountBase.SqlTemplate)
    assert(r.getAs[Double]("external_consumption") == 25.0)
    assert(r.getAs[Double]("internal_cost") == 111.0)
  }

  test("mode 1 with null discount yields null external (conform later zeroes it)") {
    import spark.implicits._
    val out = Calculate.calculateWithCredits(
      Seq(base).toDF(), Seq(Rule("2026-01", "A", mode = Some(1))).toDF(), Map.empty)
    assert(out.select("external_consumption").collect().head.isNullAt(0))
    val conformed = Conform.conformToTarget(out)
    assert(conformed.select("external_consumption").collect().head.getDouble(0) == 0.0)
  }
}

class CreditsSpec extends SparkSpec {

  private def pivot(types: Seq[String], amounts: Seq[Double]): Row = {
    val df = spark.createDataFrame(
      java.util.List.of(Row(types, amounts)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("credits_type",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType), true),
        org.apache.spark.sql.types.StructField("credits_amount",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType), true))))
    Credits.deriveCredits(df).collect().head
  }

  test("known types pivot into their columns; repeats accumulate") {
    val r = pivot(
      Seq("COMMITTED_USAGE_DISCOUNT", "DISCOUNT", "COMMITTED_USAGE_DISCOUNT"),
      Seq(1.0, 2.0, 4.0))
    assert(r.getAs[Double]("c_cud") == 5.0)
    assert(r.getAs[Double]("c_discount") == 2.0)
    assert(r.getAs[Double]("internal_credits_cost") == 7.0)
    assert(r.getAs[Double]("internal_credits_consumption") == 7.0)
  }

  test("unknown types count only toward the total (ref :35-40)") {
    val r = pivot(Seq("NOT_A_TYPE", "RESELLER_MARGIN"), Seq(10.0, 3.0))
    assert(r.getAs[Double]("c_rm") == 3.0)
    assert(r.getAs[Double]("internal_credits_cost") == 13.0)
    assert(r.getAs[Double]("internal_credits_consumption") == 10.0) // total - c_rm
  }

  test("empty and null arrays give all zeros") {
    assert(pivot(Seq.empty, Seq.empty).getAs[Double]("internal_credits_cost") == 0.0)
    assert(pivot(null, null).getAs[Double]("internal_credits_cost") == 0.0)
  }
}

class ConformSpec extends SparkSpec {

  test("37 columns in exact order, defaults applied") {
    import spark.implicits._
    val df = Seq(
      ("202601", "A", java.sql.Date.valueOf("2026-01-15"), 100.0))
      .toDF("invoice_month", "billing_account_id", "usage_day", "cost")
    val out = Conform.conformToTarget(df, lit("2026-02-01 00:00:00").cast("timestamp"))
    assert(out.columns.toSeq == BillingSchema.TargetColumns)
    val r = out.collect().head
    assert(r.getAs[String]("service_id") == "")       // missing string → ''
    assert(r.getAs[Double]("external_consumption") == 0.0)
    assert(r.getAs[Int]("mode") == 0)                 // missing mode → 0
    assert(r.getAs[Any]("customer_id") == null)       // nullable stays null
    assert(r.getAs[Double]("cost") == 100.0)
  }

  test("null payload values fill with reference defaults") {
    import spark.implicits._
    val df = Seq(("202601", "A", java.sql.Date.valueOf("2026-01-15")))
      .toDF("invoice_month", "billing_account_id", "usage_day")
      .withColumn("mode", lit(null).cast("int"))
      .withColumn("price", lit(null).cast("double"))
      .withColumn("credit_fields", lit(null).cast("string"))
    val r = Conform.conformToTarget(df).collect().head
    assert(r.getAs[Int]("mode") == 0)
    assert(r.getAs[Double]("price") == 0.0)
    assert(r.getAs[String]("credit_fields") == "")
  }

  test("the default etl_time is one value per call, on every row") {
    import spark.implicits._
    val df = (1 to 50).map(i => ("202601", s"A$i", java.sql.Date.valueOf("2026-01-15")))
      .toDF("invoice_month", "billing_account_id", "usage_day").repartition(4)
    def times(): Set[java.sql.Timestamp] =
      Conform.conformToTarget(df).select("etl_time").collect().map(_.getTimestamp(0)).toSet
    val first = times()
    Thread.sleep(5)
    val second = times()
    assert(first.size == 1 && second.size == 1, s"rows of one call differ: $first $second")
    assert(first != second, "two calls share one etl_time")
  }
}
