package graft.pipeline

import java.nio.file.Files
import java.time.LocalDate

import graft.kernel.{Fixtures, SparkSpec}

class OpsSpec extends SparkSpec {
  import Fixtures._

  /** Two one-row days (2026-01-10, 2026-01-11) of account A whose compute
    * throws `error` whenever its range covers 2026-01-11; returns the failed
    * days, the target, the failure CSV and the alerts. */
  private def runPoisoned(error: => Throwable)
      : (Seq[LocalDate], String, String, Seq[String]) = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-iso").toString
    val facts = Seq(
      fact("A").copy(usage_day = java.sql.Date.valueOf("2026-01-10")),
      fact("A").copy(usage_day = java.sql.Date.valueOf("2026-01-11")))
    val rules = Seq(Rule("2026-01", "A", mode = Some(2), price = Some(2.0)))
    val alerts = scala.collection.mutable.ArrayBuffer[String]()
    val alerter = new Alerter { def send(m: String): Unit = alerts += m }

    // poison the 2026-01-11 slice: any compute covering it throws, so the
    // window fails and the per-day retry isolates the day
    val failCsv = s"$dir/failures.csv"
    val f = facts.toDF(); val r = rules.toDF()
    val failed = IsolatedRun.runDays(
      spark, f, r, s"$dir/out", "202601",
      Some((LocalDate.parse("2026-01-10"), LocalDate.parse("2026-01-12"))),
      failureCsv = failCsv, alerter = alerter, extraDiscount = Map.empty,
      computeRange = Some { range =>
        val bad = LocalDate.parse("2026-01-11")
        if (range.exists { case (from, until) => !bad.isBefore(from) && bad.isBefore(until) })
          throw error
        Jobs.computeMonth(f, r, "202601", dayRange = range, extraDiscount = Map.empty)
      })
    (failed, s"$dir/out", failCsv, alerts.toSeq)
  }

  test("runDays isolates a failing day: others land, failure is logged + alerted") {
    val (failed, out, failCsv, alerts) = runPoisoned(new RuntimeException("boom"))
    assert(failed == Seq(LocalDate.parse("2026-01-11")))
    assert(spark.read.parquet(out).count() == 1) // good day landed
    val csv = new String(Files.readAllBytes(java.nio.file.Paths.get(failCsv)))
    assert(csv.startsWith("invoice_month,usage_day,error"))
    assert(csv.contains("2026-01-11"))
    assert(alerts.exists(_.contains("2026-01-11")))
  }

  test("runDays isolates a failure with no message: its class name is logged") {
    val (failed, out, failCsv, alerts) = runPoisoned(new RuntimeException())
    assert(failed == Seq(LocalDate.parse("2026-01-11")))
    assert(spark.read.parquet(out).count() == 1) // good day landed
    val csv = new String(Files.readAllBytes(java.nio.file.Paths.get(failCsv)))
    assert(csv.contains("\"2026-01-11\",\"java.lang.RuntimeException\""))
    assert(alerts.exists(a => a.contains("2026-01-11") && a.contains("java.lang.RuntimeException")))
  }

  test("runDays does not swallow fatal errors as a bad day") {
    intercept[InterruptedException] {
      runPoisoned(new InterruptedException("stop"))
    }
  }

  /** Runs `body`, then returns the file-source writes it executed, in
    * order, as true = committed / false = failed. */
  private def fileWrites(body: => Unit): Seq[Boolean] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    def isWrite(qe: QueryExecution) =
      qe.logical.exists(_.isInstanceOf[InsertIntoHadoopFsRelationCommand])
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (isWrite(qe)) writes.add(true)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        if (isWrite(qe)) writes.add(false)
    }
    org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    writes.asScala.toSeq
  }

  test("a clean tick is one window write; a failing tick falls back to one write per day") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val dir = Files.createTempDirectory("graft-window").toString
    val days = Seq("2026-01-10", "2026-01-11", "2026-01-12").map(LocalDate.parse)
    val window = Some((days.head, days.last.plusDays(1)))
    val bad = days(1)
    val f = days.map(d => fact("A").copy(usage_day = java.sql.Date.valueOf(d))).toDF()
    val r = Seq(Rule("2026-01", "A", mode = Some(2), price = Some(2.0))).toDF()
    def costs: Map[String, Double] = spark.read.parquet(s"$dir/out")
      .select(col("usage_day").cast("string"), col("cost")).as[(String, Double)]
      .collect().toMap

    val clean = fileWrites {
      assert(IsolatedRun.runDays(spark, f, r, s"$dir/out", "202601", window,
        failureCsv = s"$dir/failures.csv").isEmpty)
    }
    assert(clean == Seq(true))
    assert(costs == days.map(_.toString -> 100.0).toMap)

    // second tick: new costs, but any task holding a row of `bad` fails at
    // execution time — inside the window's overwrite, after it started
    val f2 = f.withColumn("cost", lit(200.0))
    val failing = fileWrites {
      val failed = IsolatedRun.runDays(spark, f2, r, s"$dir/out", "202601", window,
        failureCsv = s"$dir/failures.csv",
        computeRange = Some { range =>
          Jobs.computeMonth(f2, r, "202601", dayRange = range)
            .withColumn("cost", when(col("usage_day") === lit(java.sql.Date.valueOf(bad)),
              raise_error(lit("boom"))).otherwise(col("cost")))
        })
      assert(failed == Seq(bad))
    }
    // the window write fails, then one write per day: the good ones commit
    assert(failing == Seq(false, true, false, true))
    // the failed window committed nothing; the bad day keeps the first tick
    assert(costs == Map(days(0).toString -> 200.0, bad.toString -> 100.0,
      days(2).toString -> 200.0))
  }

  test("the window job writes the same table as the per-day loop") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-window-eq").toString
    val days = Seq("2026-01-13", "2026-01-14", "2026-01-15").map(java.sql.Date.valueOf)
    val facts = days.zipWithIndex.flatMap { case (d, i) =>
      Seq(
        fact("A").copy(usage_day = d, cost = 100.0 + i, c_cud = -3.0),
        fact("B", proj = "p1").copy(usage_day = d, usage_amount_in_pricing_units = 5.0 + i),
        fact("B", proj = "p2").copy(usage_day = d, c_discount = -1.5),
        fact("C", proj = "p1", svc = "s1", sku = "k1").copy(usage_day = d,
          internal_credits_cost = -2.0, internal_credits_consumption = -1.0),
        fact("C", proj = "p1", svc = "s1", sku = "k2").copy(usage_day = d),
        fact("Z").copy(usage_day = d)) // no rule
    }
    val rules = Seq(
      Rule("2026-01", "A", mode = Some(1), discount = Some(0.9)),
      Rule("2026-01", "B", mode = Some(1), discount = Some(0.8)),
      Rule("2026-01", "B", project_id = Some("p1"), mode = Some(2), price = Some(2.0)),
      Rule("2026-01", "C", project_id = Some("p1"), service_description = Some("s1"),
        mode = Some(3), price = Some(3.0), discount = Some(0.5)),
      Rule("2026-01", "C", project_id = Some("p1"), service_description = Some("s1"),
        sku_id = Some("k1"), mode = Some(4), discount = Some(0.7),
        credit_fields = Some("c_cud/c_discount")))
    facts.toDF().write.parquet(s"$dir/ods")
    rules.toDF().write.parquet(s"$dir/dim")
    val extra = Map("A" -> 0.95)

    assert(Launcher.runDaily(spark,
      Launcher.Config(s"$dir/ods", s"$dir/dim", s"$dir/window",
        failureCsv = s"$dir/failures.csv", extraDiscount = extra),
      LocalDate.parse("2026-01-15")).isEmpty)

    // the per-day loop: a compute that refuses any range longer than a day
    val ods = spark.read.parquet(s"$dir/ods")
    val dim = spark.read.parquet(s"$dir/dim")
    val perDay = fileWrites {
      assert(IsolatedRun.runDays(spark, ods, dim, s"$dir/days", "202601",
        Some((days.head.toLocalDate, days.last.toLocalDate.plusDays(1))),
        failureCsv = s"$dir/failures.csv",
        computeRange = Some { range =>
          require(range.exists { case (from, until) => until == from.plusDays(1) },
            "window refused")
          Jobs.computeMonth(ods, dim, "202601", dayRange = range,
            extraDiscount = extra)
        }).isEmpty)
    }
    assert(perDay == Seq(true, true, true))

    val window = spark.read.parquet(s"$dir/window")
    val byDay = spark.read.parquet(s"$dir/days")
    val keys = graft.kernel.BillingSchema.Grain13
    val compared = graft.kernel.BillingSchema.TargetColumns
      .filterNot(c => keys.contains(c) || c == "etl_time")
    assert(window.count() == facts.size)
    assert(byDay.count() == facts.size)
    assert(window.select("mode").distinct().as[Int].collect().toSet == Set(0, 1, 2, 3, 4))
    assert(graft.operators.Reconcile.snapshotDiff(byDay, window, keys, compared).count() == 0)
  }

  test("registered SQL functions evaluate like their Column twins") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_polyhash('abc') AS h, graft_dot(array(cast(1.0 as float), cast(2.0 as float)), array(cast(3.0 as float), cast(4.0 as float))) AS d, size(graft_shingles('a b c d')) AS s")
      .collect().head
    assert(r.getAs[Long]("h") == ((('a' * 31 + 'b') % 1000000007L) * 31 + 'c') % 1000000007L)
    assert(r.getAs[Double]("d") == 11.0)
    assert(r.getAs[Int]("s") == 2)
  }
}
