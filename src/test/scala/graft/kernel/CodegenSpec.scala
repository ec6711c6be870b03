package graft.kernel

import java.time.LocalDate

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.{col, lit}
import graft.pipeline.{Jobs, Launcher}

/** Ratchets on the code Spark generates for E1's fact stage (scan → rule
  * probe → modes → conform), over a lake partitioned like the ODS
  * (invoice_month/usage_day, so `invoice_month` reads back as an integer).
  *
  *  - HotSpot never JIT-compiles a method over 8,000 bytecode bytes
  *    (`-XX:+DontCompileHugeMethods`): a fused stage past that runs in the
  *    bytecode interpreter on every row.
  *  - A repeated tick must reuse its compiled classes: a per-call value
  *    inlined into the generated text (a folded `current_timestamp()`)
  *    makes every tick compile its stages afresh and start them cold.
  */
class CodegenSpec extends SparkSpec {
  import Fixtures._

  private val today = LocalDate.of(2026, 1, 15)

  private def withLake(body: (String, String, String) => Unit): Unit = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_codegen").toString
    try {
      val days = (10 to 15).map(d => java.sql.Date.valueOf(LocalDate.of(2026, 1, d)))
      val facts = for (d <- days; a <- Seq("A", "B", "C"); p <- Seq("p1", "p2"))
        yield fact(a, proj = p).copy(usage_day = d)
      val raw = facts.toDF()
      raw.select(BillingSchema.odsSchema.fields.map(f =>
          (if (raw.columns.contains(f.name)) col(f.name) else lit(null)).cast(f.dataType).as(f.name)): _*)
        .write.partitionBy("invoice_month", "usage_day").parquet(s"$dir/ods")
      Seq(
        Rule("2026-01", "A", mode = Some(1), discount = Some(0.9)),
        Rule("2026-01", "A", project_id = Some("p1"), mode = Some(2), price = Some(0.5)),
        Rule("2026-01", "B", service_description = Some("s1"), sku_id = Some("k1"),
          mode = Some(4), credit_fields = Some("RM"))).toDF()
        .write.parquet(s"$dir/dim")
      body(s"$dir/ods", s"$dir/dim", s"$dir/target")
    } finally graft.pipeline.Bucketing.deleteRecursively(dir)
  }

  test("E1's fused fact stage compiles under HotSpot's 8,000-byte JIT limit") {
    withLake { (ods, dim, _) =>
      // AQE off, as PlanSpec's q41 check: the stages are then planned up
      // front and visible to the walk
      val aqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val fact = spark.read.parquet(ods)
        assert(fact.schema("invoice_month").dataType == org.apache.spark.sql.types.IntegerType)
        val out = Jobs.computeMonth(fact, spark.read.parquet(dim), "202601",
          Some(Jobs.lookbackWindow(today)), extraDiscount = Modes.ReferenceExtraDiscount)
        val sizes = out.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec =>
          CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize
        }
        info(s"largest generated method per stage, bytes: ${sizes.mkString(", ")}")
        assert(sizes.nonEmpty && sizes.max <= 8000,
          s"largest generated method ${sizes.max} bytes > 8000 (per stage: $sizes)")
      } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  test("a repeated daily tick compiles no new class") {
    withLake { (ods, dim, target) =>
      def tick(): Unit = assert(Launcher.runDaily(spark, Launcher.Config(ods, dim, target,
        failureCsv = s"$target.failures.csv", extraDiscount = Modes.ReferenceExtraDiscount),
        today).isEmpty)
      tick()
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      tick()
      val again = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
      assert(again == 0, s"the second tick compiled $again classes")
    }
  }
}
