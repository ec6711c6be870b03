package graft.pipeline

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.functions._
import graft.kernel.{Fixtures, SparkSpec}

class PipelineSpec extends SparkSpec {
  import Fixtures._

  private def facts = Seq(
    fact("A").copy(usage_day = java.sql.Date.valueOf("2026-01-10")),
    fact("A").copy(usage_day = java.sql.Date.valueOf("2026-01-20")),
    fact("B").copy(usage_day = java.sql.Date.valueOf("2026-01-20")),
    fact("B").copy(invoice_month = "202602", usage_day = java.sql.Date.valueOf("2026-02-01")))
  private def rules = Seq(
    Rule("2026-01", "A", mode = Some(2), price = Some(2.0)),
    Rule("2026-02", "B", mode = Some(2), price = Some(3.0)))

  test("lookbackWindow: 4-day lookback clamped to month start (main.py:165-171)") {
    assert(Jobs.lookbackWindow(LocalDate.parse("2026-01-20")) ==
      (LocalDate.parse("2026-01-16"), LocalDate.parse("2026-01-21")))
    assert(Jobs.lookbackWindow(LocalDate.parse("2026-01-02")) ==
      (LocalDate.parse("2026-01-01"), LocalDate.parse("2026-01-03")))
  }

  test("computeMonth filters by month, day range, accounts") {
    import spark.implicits._
    val f = facts.toDF(); val r = rules.toDF()
    assert(Jobs.computeMonth(f, r, "202601").count() == 3)
    assert(Jobs.computeMonth(f, r, "202601",
      dayRange = Some((LocalDate.parse("2026-01-15"), LocalDate.parse("2026-01-21"))))
      .count() == 2)
    assert(Jobs.computeMonth(f, r, "202601",
      accounts = Some(Seq("B"))).count() == 1)
    val out = Jobs.computeMonth(f, r, "202601").filter($"billing_account_id" === "A")
    // mode 2: external = usage(10) * price(2)
    assert(out.select("external_consumption").as[Double].collect().toSet == Set(20.0))
  }

  test("partitioned write is idempotent and only overwrites incoming partitions") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sink").toString
    // three more accounts on 2026-01-20, in descending order
    val f = (facts ++ Seq("E", "D", "C").map(a =>
      fact(a).copy(usage_day = java.sql.Date.valueOf("2026-01-20")))).toDF()
    val r = rules.toDF()
    // each month's rows arrive spread over 3 upstream tasks
    def month(m: String) = Jobs.computeMonth(f, r, m).repartition(3)

    // write both months
    Sink.writePartitioned(month("202601"), dir)
    Sink.writePartitioned(month("202602"), dir)
    val full = spark.read.parquet(dir)
    assert(full.count() == 7)

    // re-run January only — February survives, January is replaced not duped
    Sink.writePartitioned(month("202601"), dir)
    val again = spark.read.parquet(dir)
    assert(again.count() == 7)
    assert(again.filter($"invoice_month" === "202602").count() == 1)

    // partition layout on disk
    val months = new java.io.File(dir).listFiles().filter(_.getName.startsWith("invoice_month="))
    assert(months.map(_.getName).toSet == Set("invoice_month=202601", "invoice_month=202602"))

    // exactly ONE file per written partition (the anti-fan-out contract the
    // sink's repartition exists for), its rows ordered by billing_account_id
    val partitions = months.flatMap(_.listFiles().filter(_.isDirectory))
    assert(partitions.length == 3)
    partitions.foreach { p =>
      val files = p.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"$p holds ${files.length} files")
      val ids = spark.read.parquet(files.head.getPath)
        .select("billing_account_id").as[String].collect().toSeq
      assert(ids == ids.sorted, s"$p: $ids")
    }
    assert(spark.read.parquet(s"$dir/invoice_month=202601/usage_day=2026-01-20")
      .count() == 5)
  }

  test("restatement audit: runMonth twice, then snapshotDiff of the writes is EMPTY") {
    import spark.implicits._
    // the reference implements idempotency as delete-then-insert and
    // ASSUMES it; here the re-run is AUDITED: recompute the month, diff
    // the table states with the declared reconciliation operator, and
    // demand zero added/removed/changed rows (etl_time excluded — it is
    // the one intentionally run-varying column)
    val dir = Files.createTempDirectory("graft-audit").toString
    facts.toDF().write.parquet(s"$dir/ods")
    rules.toDF().write.parquet(s"$dir/dim")

    Jobs.runMonth(spark, s"$dir/ods", s"$dir/dim", s"$dir/target", "202601")
    spark.read.parquet(s"$dir/target").write.parquet(s"$dir/audit_copy")
    Jobs.runMonth(spark, s"$dir/ods", s"$dir/dim", s"$dir/target", "202601")

    val diff = graft.operators.Reconcile.snapshotDiff(
      spark.read.parquet(s"$dir/audit_copy"),
      spark.read.parquet(s"$dir/target"),
      keys = Seq("invoice_month", "usage_day", "billing_account_id"),
      compareCols = Seq("mode", "cost", "internal_cost",
        "external_consumption", "discount_amount"))
    assert(diff.isEmpty, s"re-run changed the table:\n${diff.collect().mkString("\n")}")
  }
}

class MultimodalSpec extends SparkSpec {

  test("featurize runs the stub decoder through mapPartitions plumbing") {
    import spark.implicits._
    val df = Seq((1L, "abc"), (2L, "")).toDF("id", "payload")
      .withColumn("payload", col("payload").cast("binary"))
    val out = graft.operators.Multimodal.featurize(df, "payload", "id")
      .as[(Long, Array[Double])].collect().toMap
    assert(out(1L).sameElements(Array(3.0, (97 + 98 + 99) / 3.0, 97.0, 99.0)))
    assert(out(2L).sameElements(Array(0.0, 0.0, 0.0, 0.0)))
  }

  test("m04 binary near-dup: prefix-cut twins pair with their origin, disjoint payloads stay apart") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_m04_fix").toString
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi " +
        "omicron pi rho sigma tau upsilon phi chi psi omega aleph beth gimel daleth " +
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi " +
        "omicron pi rho sigma tau upsilon phi chi psi omega aleph beth gimel daleth"),
      (2L, "uno dos tres cuatro cinco seis siete ocho nueve diez once doce trece " +
        "catorce quince dieciseis diecisiete dieciocho diecinueve veinte treinta " +
        "cuarenta cincuenta sesenta setenta ochenta noventa cien mil millon " +
        "uno dos tres cuatro cinco seis siete ocho nueve diez once doce trece"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val pairs = graft.operators.Multimodal.m04BinaryNearDup.fn(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 100001L)), s"twin of 1 must pair with its origin: $pairs")
      assert(pairs.contains((2L, 100002L)), s"twin of 2 must pair with its origin: $pairs")
      val cross = pairs.filter { case (a, b) => a % 100000 != b % 100000 }
      assert(cross.isEmpty, s"byte-disjoint payloads must not pair: $cross")
    } finally graft.pipeline.Bucketing.deleteRecursively(dir)
  }
}
