package graft.kernel

import org.apache.spark.sql.Row

/** Billing fixtures per FIXTURES.md §A — minimal rows exercising each
  * semantic branch of the kernel. */
object Fixtures {
  case class Fact(
      invoice_month: String, billing_account_id: String, usage_day: java.sql.Date,
      project_id: String, service_description: String, sku_id: String,
      usage_amount_in_pricing_units: Double = 10.0,
      cost: Double = 100.0, cost_at_list: Double = 120.0,
      c_cud: Double = 0.0, c_cud_db: Double = 0.0, c_discount: Double = 0.0,
      c_free_tier: Double = 0.0, c_promotion: Double = 0.0, c_rm: Double = 0.0,
      c_sub_benefit: Double = 0.0, c_sud: Double = 0.0,
      internal_credits_cost: Double = 0.0, internal_credits_consumption: Double = 0.0)

  case class Rule(
      month: String, billing_account_id: String,
      project_id: Option[String] = None, service_description: Option[String] = None,
      sku_id: Option[String] = None,
      mode: Option[Int] = None, discount: Option[Double] = None,
      price: Option[Double] = None, credit_fields: Option[String] = None,
      customer_id: Option[String] = None, contract_id: Option[String] = None)

  val day: java.sql.Date = java.sql.Date.valueOf("2026-01-15")
  def fact(acct: String, proj: String = "p1", svc: String = "s1", sku: String = "k1"): Fact =
    Fact("202601", acct, day, proj, svc, sku)
}

class RuleMatchSpec extends SparkSpec {
  import Fixtures._

  private def run(facts: Seq[Fact], rules: Seq[Rule]): Seq[Row] = {
    import spark.implicits._
    val out = RuleMatch.addRuleTag(facts.toDF(), rules.toDF())
    out.select("billing_account_id", "project_id", "service_description", "sku_id",
      "mode", "discount", "price", "credit_fields", "customer_id", "contract_id")
      .collect().toSeq
  }

  test("each of the 8 null patterns matches on its own keys") {
    val f = fact("A")
    // one rule per pattern, each targeting a DIFFERENT account so they don't compete
    val accounts = (1 to 8).map(i => s"A$i")
    val facts = accounts.map(a => fact(a))
    val rules = Seq(
      Rule("2026-01", "A1", mode = Some(1)),
      Rule("2026-01", "A2", project_id = Some("p1"), mode = Some(2)),
      Rule("2026-01", "A3", service_description = Some("s1"), mode = Some(3)),
      Rule("2026-01", "A4", project_id = Some("p1"), service_description = Some("s1"), mode = Some(4)),
      Rule("2026-01", "A5", sku_id = Some("k1"), mode = Some(1)),
      Rule("2026-01", "A6", project_id = Some("p1"), sku_id = Some("k1"), mode = Some(2)),
      Rule("2026-01", "A7", service_description = Some("s1"), sku_id = Some("k1"), mode = Some(3)),
      Rule("2026-01", "A8", project_id = Some("p1"), service_description = Some("s1"),
        sku_id = Some("k1"), mode = Some(4)))
    val rows = run(facts, rules)
    assert(rows.size == 8)
    val modes = rows.map(r => r.getString(0) -> r.getAs[Int]("mode")).toMap
    assert(modes == Map("A1" -> 1, "A2" -> 2, "A3" -> 3, "A4" -> 4,
      "A5" -> 1, "A6" -> 2, "A7" -> 3, "A8" -> 4))
  }

  test("non-matching specializer values do not match") {
    val rows = run(
      Seq(fact("A", proj = "OTHER")),
      Seq(Rule("2026-01", "A", project_id = Some("p1"), mode = Some(2))))
    assert(rows.head.getAs[Any]("mode") == null)
  }

  test("month must align ('YYYY-MM' dim vs 'YYYYMM' fact)") {
    val rows = run(
      Seq(fact("A")),
      Seq(Rule("2026-02", "A", mode = Some(1)))) // wrong month
    assert(rows.head.getAs[Any]("mode") == null)
  }

  test("precedence 8>4>6>2>7>3>5>1: most-specific rule wins") {
    // all 8 patterns match the same fact row; pattern 8 must win
    val rules = (1 to 8).map { i =>
      val (p, s, k) = RuleMatch.Presence(i)
      Rule("2026-01", "A",
        project_id = if (p) Some("p1") else None,
        service_description = if (s) Some("s1") else None,
        sku_id = if (k) Some("k1") else None,
        mode = Some(i), contract_id = Some(s"CTR$i"))
    }
    val rows = run(Seq(fact("A")), rules)
    assert(rows.head.getAs[Int]("mode") == 8)
    assert(rows.head.getAs[String]("contract_id") == "CTR8")
  }

  test("at equal specificity, project beats service beats sku (4>6>7, 2>3>5)") {
    // two-key patterns: 4 (proj+svc), 6 (proj+sku), 7 (svc+sku)
    val rules = Seq(
      Rule("2026-01", "A", project_id = Some("p1"), service_description = Some("s1"), mode = Some(4)),
      Rule("2026-01", "A", project_id = Some("p1"), sku_id = Some("k1"), mode = Some(6)),
      Rule("2026-01", "A", service_description = Some("s1"), sku_id = Some("k1"), mode = Some(7)))
    assert(run(Seq(fact("A")), rules).head.getAs[Int]("mode") == 4)

    val oneKey = Seq(
      Rule("2026-01", "A", project_id = Some("p1"), mode = Some(2)),
      Rule("2026-01", "A", service_description = Some("s1"), mode = Some(3)),
      Rule("2026-01", "A", sku_id = Some("k1"), mode = Some(5)))
    assert(run(Seq(fact("A")), oneKey).head.getAs[Int]("mode") == 2)
  }

  test("per-column coalesce: specific rule's null payload falls back to less specific") {
    val rules = Seq(
      Rule("2026-01", "A", project_id = Some("p1"), mode = Some(2),
        discount = None, customer_id = Some("CU-specific")),
      Rule("2026-01", "A", mode = Some(1), discount = Some(0.9), customer_id = Some("CU-base")))
    val r = run(Seq(fact("A")), rules).head
    assert(r.getAs[Int]("mode") == 2)                 // from specific
    assert(r.getAs[Double]("discount") == 0.9)        // fell back per-column
    assert(r.getAs[String]("customer_id") == "CU-specific")
  }

  test("duplicate keys within a family are deduplicated deterministically") {
    val rules = Seq(
      Rule("2026-01", "A", mode = Some(1), contract_id = Some("CTR-a")),
      Rule("2026-01", "A", mode = Some(1), contract_id = Some("CTR-b")))
    val rows = run(Seq(fact("A")), rules)
    assert(rows.size == 1) // no fan-out
    assert(rows.head.getAs[String]("contract_id") == "CTR-a") // first under payload sort
  }

  test("shuffle fallback ≡ broadcast ladder on every semantic branch") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val outCols = Seq("billing_account_id", "project_id", "service_description",
      "sku_id", "mode", "discount", "price", "credit_fields", "customer_id",
      "contract_id")
    def both(facts: Seq[Fact], rules: Seq[Rule]): (Seq[Row], Seq[Row]) = {
      def go(st: RuleMatch.RuleDimStrategy) =
        RuleMatch.addRuleTag(facts.toDF(), rules.toDF(), st)
          .select(outCols.map(col): _*)
          .collect().toSeq.sortBy(_.toString)
      (go(RuleMatch.RuleDimStrategy.Broadcast),
        go(RuleMatch.RuleDimStrategy.Shuffle))
    }
    val allPatterns = (1 to 8).map { i =>
      val (p, s, k) = RuleMatch.Presence(i)
      Rule("2026-01", "A",
        project_id = if (p) Some("p1") else None,
        service_description = if (s) Some("s1") else None,
        sku_id = if (k) Some("k1") else None,
        mode = Some(i), contract_id = Some(s"CTR$i"))
    }
    val scenarios: Seq[(String, Seq[Fact], Seq[Rule])] = Seq(
      ("all 8 patterns compete", Seq(fact("A")), allPatterns),
      ("per-column fallthrough", Seq(fact("A")), Seq(
        Rule("2026-01", "A", project_id = Some("p1"), mode = Some(2),
          customer_id = Some("CU-specific")),
        Rule("2026-01", "A", mode = Some(1), discount = Some(0.9),
          customer_id = Some("CU-base")))),
      ("dup keys in one family", Seq(fact("A")), Seq(
        Rule("2026-01", "A", mode = Some(1), contract_id = Some("CTR-a")),
        Rule("2026-01", "A", mode = Some(1), contract_id = Some("CTR-b")))),
      ("no match at all", Seq(fact("A", proj = "OTHER")), Seq(
        Rule("2026-01", "A", project_id = Some("p1"), mode = Some(2)))),
      ("wrong month", Seq(fact("A")), Seq(
        Rule("2026-02", "A", mode = Some(1)))),
      // a NULL fact specializer must match wildcard families (the ladder's
      // equality keys are simply absent there) — pins the null-safe re-join
      ("null fact key hits wildcards only", Seq(fact("A", proj = null)), Seq(
        Rule("2026-01", "A", project_id = Some("p1"), mode = Some(2)),
        Rule("2026-01", "A", mode = Some(1), contract_id = Some("CTR-w")))),
      ("mixed accounts and specificities",
        Seq(fact("A"), fact("B", svc = "s2"), fact("C", sku = "k9")),
        allPatterns ++ Seq(
          Rule("2026-01", "B", service_description = Some("s2"), mode = Some(3)),
          Rule("2026-01", "C", mode = Some(5), price = Some(2.0)))))
    scenarios.foreach { case (label, facts, rules) =>
      val (b, s) = both(facts, rules)
      assert(b == s, s"strategies diverged on: $label\nbroadcast=$b\nshuffle=$s")
    }
  }

  test("Auto strategy is result-identical in both regimes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val facts = Seq(fact("A")); val rules = Seq(
      Rule("2026-01", "A", mode = Some(1), discount = Some(0.9)))
    def go(st: RuleMatch.RuleDimStrategy) =
      RuleMatch.addRuleTag(facts.toDF(), rules.toDF(), st)
        .select(col("mode"), col("discount")).collect().toSeq
    assert(go(RuleMatch.RuleDimStrategy.Auto()) ==
      go(RuleMatch.RuleDimStrategy.Auto(maxBroadcastBytes = 0)))
  }

  test("Auto is byte-based: a WIDE dim under any row-count threshold selects Shuffle") {
    import spark.implicits._
    import RuleMatch.RuleDimStrategy.Auto
    // 200 rows — three orders of magnitude under the old 4M-row cap — but
    // each carries a ~10 KB credit_fields payload: the row-count heuristic
    // would broadcast it, the byte estimate must not (round-8 verdict #5)
    val widePayload = "x" * 10000
    val wide = (1 to 200).map(i =>
      Rule("2026-01", s"A$i", mode = Some(1), credit_fields = Some(widePayload))).toDF()
    val narrow = (1 to 200).map(i => Rule("2026-01", s"A$i", mode = Some(1))).toDF()
    val wideBytes = RuleMatch.estimateDimBytes(wide, 1024)
    val narrowBytes = RuleMatch.estimateDimBytes(narrow, 1024)
    // the estimate must SEE the payload width (≥ the raw UTF-16 chars), not
    // a per-row schema default — this is exactly what defeats row counting
    assert(wideBytes >= 200L * 2 * 10000, s"wide dim underestimated: $wideBytes")
    assert(wideBytes > 50 * narrowBytes,
      s"estimate ignores payload width: wide=$wideBytes narrow=$narrowBytes")
    // at a budget scaled to this fixture (the production default scales the
    // same way: bytes, not rows), the wide dim picks Shuffle, narrow keeps
    // the broadcast ladder — same row count on both sides
    val budget = Auto(maxBroadcastBytes = 1L << 20)
    assert(!RuleMatch.autoPicksBroadcast(wide, budget),
      "wide dim under the row cap must select Shuffle")
    assert(RuleMatch.autoPicksBroadcast(narrow, budget),
      "narrow dim of the same row count must keep Broadcast")
    // and the pick is plan-deep, not just the helper: the wide dim's Auto
    // plan is the tall-union fallback, not the broadcast rule index
    // (Catalyst may still broadcast the SMALL side of the fallback's
    // re-join — that degradation is correct and allowed)
    val facts = Seq(fact("A1")).toDF()
    val plan = RuleMatch.addRuleTag(facts, wide, budget).queryExecution.executedPlan
    // the ladder would show one rule-index probe and no aggregate; the
    // fallback's signature is the winner max() aggregate (the tall union
    // itself constant-folds into one LocalTableScan on an in-memory dim)
    assert(graft.PlanShape.ruleProbes(plan) == 0 &&
      graft.PlanShape.count[org.apache.spark.sql.execution.aggregate.BaseAggregateExec](plan) > 0,
      s"Auto kept the rule index on a dim its byte estimate rejects:\n$plan")
  }

  test("property: the rule index ≡ the Shuffle fallback on random dims") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val outCols = Seq("invoice_month", "billing_account_id", "project_id",
      "service_description", "sku_id", "mode", "discount", "price", "credit_fields",
      "customer_id", "contract_id")
    val dir = java.nio.file.Files.createTempDirectory("graft_rule_index").toString
    try (1 to 6).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
      def orNull(v: String, p: Double): String = if (rnd.nextDouble() < p) null else v
      val (accts, projs, svcs, skus) =
        (Seq("A0", "A1", "A2", "A3"), Seq("p0", "p1", "p2"), Seq("s0", "s1"), Seq("k0", "k1", "k2"))
      // null fact specializers (and the odd null account) on ~15 % of keys
      val facts = Seq.fill(40)(Fact("202601", orNull(pick(accts), 0.05), day,
        orNull(pick(projs), 0.15), orNull(pick(svcs), 0.15), orNull(pick(skus), 0.15)))
      val drawn = Seq.fill(30) {
        val (p, s, k) = RuleMatch.Presence(1 + rnd.nextInt(8)) // NULL = wildcard
        Rule(if (rnd.nextDouble() < 0.15) "2025-12" else "2026-01", pick(accts),
          Option.when(p)(pick(projs)), Option.when(s)(pick(svcs)), Option.when(k)(pick(skus)),
          mode = Option.when(rnd.nextDouble() < 0.9)(rnd.nextInt(5)),
          discount = Option.when(rnd.nextDouble() < 0.8)(rnd.nextDouble()),
          price = pick(Seq(None, Some(0.0), Some(rnd.nextDouble()))),
          credit_fields = Option.when(rnd.nextDouble() < 0.7)(pick(Seq("RM", "SUD/CUD", ""))),
          customer_id = Option.when(rnd.nextDouble() < 0.7)(s"CU${rnd.nextInt(9)}"),
          contract_id = Some(s"C${rnd.nextInt(1000)}"))
      }
      // duplicate keys within a family, with another payload
      val rules = (drawn ++ drawn.take(6).map(_.copy(mode = Some(9), contract_id = Some("DUP")))).toDF()
      facts.toDF().write.partitionBy("invoice_month").parquet(s"$dir/$seed")
      val partitioned = spark.read.parquet(s"$dir/$seed")
      assert(partitioned.schema("invoice_month").dataType == org.apache.spark.sql.types.IntegerType)
      Seq("in-memory" -> facts.toDF(), "partitioned" -> partitioned).foreach { case (label, f) =>
        def go(st: RuleMatch.RuleDimStrategy) =
          RuleMatch.addRuleTag(f, rules, st).select(outCols.map(col): _*)
            .collect().toSeq.sortBy(_.toString)
        val b = go(RuleMatch.RuleDimStrategy.Broadcast)
        assert(b == go(RuleMatch.RuleDimStrategy.Shuffle), s"seed $seed, $label fact")
        assert(b.count(_.getAs[Any]("mode") != null) > 0, s"seed $seed matched nothing")
      }
    } finally graft.pipeline.Bucketing.deleteRecursively(dir)
  }
}
