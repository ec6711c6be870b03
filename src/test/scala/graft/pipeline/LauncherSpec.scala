package graft.pipeline

import java.nio.file.Files
import java.time.LocalDate

import graft.kernel.{Fixtures, SparkSpec}

class LauncherSpec extends SparkSpec {
  import Fixtures._

  test("runDaily end-to-end: lookback window days land, out-of-window days don't") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-launcher").toString
    val today = LocalDate.parse("2026-01-15") // window = [2026-01-11, 2026-01-16)
    val facts = Seq(
      fact("A").copy(usage_day = java.sql.Date.valueOf("2026-01-12")), // in window
      fact("A").copy(usage_day = java.sql.Date.valueOf("2026-01-05"))) // outside
    val rules = Seq(Rule("2026-01", "A", mode = Some(2), price = Some(2.0)))
    facts.toDF().write.parquet(s"$dir/ods")
    rules.toDF().write.parquet(s"$dir/dim")
    val alerts = scala.collection.mutable.ArrayBuffer[String]()
    val alerter = new Alerter { def send(m: String): Unit = alerts += m }

    val failed = Launcher.runDaily(
      spark,
      Launcher.Config(s"$dir/ods", s"$dir/dim", s"$dir/out",
        failureCsv = s"$dir/failures.csv", alerter = alerter,
        extraDiscount = Map.empty),
      today)

    assert(failed.isEmpty)
    val out = spark.read.parquet(s"$dir/out")
    val days = out.select("usage_day").collect().map(_.get(0).toString).toSet
    assert(days == Set("2026-01-12"))
    assert(out.count() == 1)
    assert(alerts.exists(_.contains("complete")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/failures.csv")))
  }

  test("--backfill yyyyMM recomputes the whole named month (E2 CLI)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-backfill").toString
    val facts = Seq(
      fact("A").copy(usage_day = java.sql.Date.valueOf("2026-01-05")),
      fact("A").copy(usage_day = java.sql.Date.valueOf("2026-01-28")),
      fact("A").copy(invoice_month = "202602",
        usage_day = java.sql.Date.valueOf("2026-02-02"))) // other month: excluded
    val rules = Seq(Rule("2026-01", "A", mode = Some(2), price = Some(2.0)))
    facts.toDF().write.parquet(s"$dir/ods")
    rules.toDF().write.parquet(s"$dir/dim")

    val code = Launcher.run(spark,
      Array(s"$dir/ods", s"$dir/dim", s"$dir/out", "--backfill", "202601"))

    assert(code == 0)
    val out = spark.read.parquet(s"$dir/out")
    // whole month, no lookback clamp — both January days land
    assert(out.select("usage_day").collect().map(_.get(0).toString).toSet ==
      Set("2026-01-05", "2026-01-28"))
  }

  test("--accounts repairs only the named accounts in the named month (E3 CLI)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-repair").toString
    val facts = Seq(fact("A"), fact("B"), fact("C")) // all on 2026-01-15
    val rules = Seq(
      Rule("2026-01", "A", mode = Some(2), price = Some(2.0)),
      Rule("2026-01", "B", mode = Some(2), price = Some(3.0)))
    facts.toDF().write.parquet(s"$dir/ods")
    rules.toDF().write.parquet(s"$dir/dim")

    val code = Launcher.run(spark,
      Array(s"$dir/ods", s"$dir/dim", s"$dir/out",
        "--accounts", "A,B", "--month", "202601"))

    assert(code == 0)
    val out = spark.read.parquet(s"$dir/out")
    assert(out.select("billing_account_id").collect()
      .map(_.getString(0)).toSet == Set("A", "B"))
  }

  test("--accounts with --window restricts the repair to the lookback days") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-repair-window").toString
    val facts = Seq(
      fact("A").copy(usage_day = java.sql.Date.valueOf("2026-01-14")), // in window
      fact("A").copy(usage_day = java.sql.Date.valueOf("2026-01-02"))) // outside
    val rules = Seq(Rule("2026-01", "A", mode = Some(2), price = Some(2.0)))
    facts.toDF().write.parquet(s"$dir/ods")
    rules.toDF().write.parquet(s"$dir/dim")

    val code = Launcher.run(spark,
      Array(s"$dir/ods", s"$dir/dim", s"$dir/out",
        "--accounts", "A", "--month", "202601",
        "--window", "3", "--today", "2026-01-15"))

    assert(code == 0)
    val out = spark.read.parquet(s"$dir/out")
    assert(out.select("usage_day").collect().map(_.get(0).toString).toSet ==
      Set("2026-01-14"))
  }

  test("--accounts keeps every other account's rows in the partitions it rewrites (E3)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-repair-keep").toString
    val days = Seq("2026-01-10", "2026-01-15").map(java.sql.Date.valueOf)
    val facts = for (d <- days; a <- Seq("A", "B", "C")) yield fact(a).copy(usage_day = d)
    def rules(priceA: Double) = Seq(
      Rule("2026-01", "A", mode = Some(2), price = Some(priceA)),
      Rule("2026-01", "B", mode = Some(2), price = Some(3.0)),
      Rule("2026-01", "C", mode = Some(2), price = Some(4.0)))
    facts.toDF().write.parquet(s"$dir/ods")
    rules(2.0).toDF().write.parquet(s"$dir/dim")
    def launch(args: String*): Int =
      Launcher.run(spark, Array(s"$dir/ods", s"$dir/dim", s"$dir/out") ++ args)
    def out = spark.read.parquet(s"$dir/out")
    def external(account: String): Map[String, Double] = out
      .filter(col("billing_account_id") === account)
      .select(col("usage_day").cast("string"), col("external_consumption"))
      .as[(String, Double)].collect().toMap
    val keys = graft.kernel.BillingSchema.Grain13
    val compared = graft.kernel.BillingSchema.TargetColumns.filterNot(keys.contains)
    assert(compared.contains("etl_time"))

    assert(launch("--backfill", "202601") == 0)
    out.filter(col("billing_account_id") === "C").write.parquet(s"$dir/c_before")
    def cUnchanged(): Unit = {
      val diff = graft.operators.Reconcile.snapshotDiff(spark.read.parquet(s"$dir/c_before"),
        out.filter(col("billing_account_id") === "C"), keys, compared)
      assert(diff.isEmpty, s"C's rows changed:\n${diff.collect().mkString("\n")}")
    }

    // A's rule changes; the repair of A and B recomputes both days of both
    rules(5.0).toDF().write.mode("overwrite").parquet(s"$dir/dim")
    assert(launch("--accounts", "A,B", "--month", "202601") == 0)
    assert(out.count() == facts.size)
    cUnchanged()
    assert(external("A") == Map("2026-01-10" -> 50.0, "2026-01-15" -> 50.0))
    assert(external("B") == Map("2026-01-10" -> 30.0, "2026-01-15" -> 30.0))

    // a windowed repair rewrites only 2026-01-15, still keeping C
    rules(7.0).toDF().write.mode("overwrite").parquet(s"$dir/dim")
    assert(launch("--accounts", "A,B", "--month", "202601",
      "--window", "2", "--today", "2026-01-15") == 0)
    assert(out.count() == facts.size)
    cUnchanged()
    assert(external("A") == Map("2026-01-10" -> 50.0, "2026-01-15" -> 70.0))

    // a first repair into a missing target writes the named accounts only
    assert(Launcher.run(spark, Array(s"$dir/ods", s"$dir/dim", s"$dir/fresh",
      "--accounts", "A", "--month", "202601")) == 0)
    assert(spark.read.parquet(s"$dir/fresh").select("billing_account_id").as[String]
      .collect().toSeq == Seq("A", "A"))
  }

  test("a failing --backfill day is logged and alerted, the other days land, exit code 1") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-backfill-fail").toString
    // 2025-12-31 is late usage invoiced in 202601
    val days = Seq("2025-12-31", "2026-01-10", "2026-01-11", "2026-01-12")
    days.map(d => fact("A").copy(usage_day = java.sql.Date.valueOf(d))).toDF()
      .write.partitionBy("invoice_month", "usage_day").parquet(s"$dir/ods")
    Seq(Rule("2026-01", "A", mode = Some(2), price = Some(2.0))).toDF()
      .write.parquet(s"$dir/dim")
    // poison 2026-01-11: zero its data pages, keep its footer, so the lake
    // lists and plans but any task reading that day fails
    val bad = java.nio.file.Paths.get(s"$dir/ods/invoice_month=202601/usage_day=2026-01-11")
    val file = Files.list(bad).filter(_.toString.endsWith(".parquet")).findFirst().get
    val bytes = Files.readAllBytes(file)
    val footerLen = java.nio.ByteBuffer.wrap(bytes, bytes.length - 8, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    java.util.Arrays.fill(bytes, 4, bytes.length - 8 - footerLen, 0.toByte)
    Files.write(file, bytes)
    Files.delete(file.resolveSibling(s".${file.getFileName}.crc")) // else a checksum error
    val alerts = scala.collection.mutable.ArrayBuffer[String]()
    val alerter = new Alerter { def send(m: String): Unit = alerts += m }
    val failCsv = s"$dir/failures.csv"

    val code = Launcher.run(spark,
      Array(s"$dir/ods", s"$dir/dim", s"$dir/out", "--backfill", "202601"),
      Launcher.Config("", "", "", failureCsv = failCsv, alerter = alerter))

    assert(code == 1)
    val csv = new String(Files.readAllBytes(java.nio.file.Paths.get(failCsv))).linesIterator.toSeq
    assert(csv.size == 2 && csv.head == "invoice_month,usage_day,error")
    assert(csv(1).startsWith("\"202601\",\"2026-01-11\","))
    assert(alerts.toSeq.map(_.contains("2026-01-11")) == Seq(true), alerts)
    assert(spark.read.parquet(s"$dir/out").select("usage_day").as[java.sql.Date]
      .collect().map(_.toString).toSet == Set("2025-12-31", "2026-01-10", "2026-01-12"))
  }

  test("--backfill writes late usage whose usage_day lies before its invoice_month") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-backfill-late").toString
    val facts = Seq(
      fact("A").copy(invoice_month = "202602", usage_day = java.sql.Date.valueOf("2026-01-30")),
      fact("A").copy(invoice_month = "202602", usage_day = java.sql.Date.valueOf("2026-02-03")),
      fact("A").copy(usage_day = java.sql.Date.valueOf("2026-01-30"))) // 202601: excluded
    Seq(Rule("2026-02", "A", mode = Some(2), price = Some(2.0))).toDF().write.parquet(s"$dir/dim")
    facts.toDF().write.parquet(s"$dir/ods")

    assert(Launcher.run(spark,
      Array(s"$dir/ods", s"$dir/dim", s"$dir/out", "--backfill", "202602")) == 0)

    val out = spark.read.parquet(s"$dir/out")
    assert(out.select($"invoice_month".cast("string"), $"usage_day".cast("string"))
      .as[(String, String)].collect().toSet ==
      Set(("202602", "2026-01-30"), ("202602", "2026-02-03")))
  }

  test("contradictory CLI flags are rejected, not silently dropped") {
    // each of these used to drop one flag and alert "complete" on work
    // that never ran
    intercept[IllegalArgumentException] {
      Launcher.run(spark, Array("a", "b", "c", "--backfill", "202601", "--accounts", "A"))
    }
    intercept[IllegalArgumentException] {
      Launcher.run(spark, Array("a", "b", "c", "--window", "3"))
    }
    intercept[IllegalArgumentException] { // window anchored to today, month in the past
      Launcher.run(spark, Array("a", "b", "c",
        "--accounts", "A", "--month", "190001", "--window", "3"))
    }
    intercept[IllegalArgumentException] { // daemon loop vs one-shot backfill
      Launcher.run(spark, Array("a", "b", "c",
        "--backfill", "202601", "--daemon", "02:00"))
    }
    intercept[IllegalArgumentException] { // daemon loop vs one-shot repair
      Launcher.run(spark, Array("a", "b", "c",
        "--accounts", "A", "--daemon", "02:00"))
    }
  }

  test("malformed month arguments fail fast instead of matching zero partitions") {
    intercept[IllegalArgumentException] {
      Launcher.run(spark, Array("a", "b", "c", "--backfill", "2026-01"))
    }
    intercept[IllegalArgumentException] {
      Launcher.run(spark, Array("a", "b", "c", "--backfill", "20261"))
    }
    intercept[IllegalArgumentException] {
      Launcher.run(spark, Array("a", "b", "c", "--accounts", "A", "--month", "jan26"))
    }
  }

  test("daemon nextTick: today if still ahead, tomorrow once passed, never 'now' itself") {
    import java.time.{LocalDateTime, LocalTime}
    val at = LocalTime.parse("05:00")
    assert(Launcher.nextTick(LocalDateTime.parse("2026-01-15T03:00:00"), at) ==
      LocalDateTime.parse("2026-01-15T05:00:00"))
    assert(Launcher.nextTick(LocalDateTime.parse("2026-01-15T06:00:00"), at) ==
      LocalDateTime.parse("2026-01-16T05:00:00"))
    // firing exactly at the tick must schedule TOMORROW, not re-fire now
    // (the reference's schedule lib has the same no-immediate-refire rule)
    assert(Launcher.nextTick(LocalDateTime.parse("2026-01-15T05:00:00"), at) ==
      LocalDateTime.parse("2026-01-16T05:00:00"))
    // month/year rollover
    assert(Launcher.nextTick(LocalDateTime.parse("2026-12-31T23:59:59"), at) ==
      LocalDateTime.parse("2027-01-01T05:00:00"))
  }

  test("HttpAlerter builds the reference webhook JSON shape with escaping") {
    val a = new HttpAlerter("http://localhost:1/unused")
    assert(a.payload("hi") == """{"msg_type":"text","content":{"text":"hi"}}""")
    assert(a.payload("a\"b\\c\nd") ==
      """{"msg_type":"text","content":{"text":"a\"b\\c\nd"}}""")
  }

  test("HttpAlerter failure is swallowed (alerting never fails the day)") {
    // port 1 refuses connections — send must return normally
    new HttpAlerter("http://127.0.0.1:1/x").send("m")
  }
}
