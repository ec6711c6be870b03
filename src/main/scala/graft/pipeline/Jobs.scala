package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernel.{Calculate, Conform, Modes}

/** S10/S11 — idempotent partitioned sink of the billing target.
  *
  * The reference achieves idempotency with ALTER TABLE … DELETE of the
  * partition range plus a tmp-table-then-swap (main.py:172-202,
  * excute_month_task.py:172-197). On Spark both collapse into ONE atomic
  * dynamic-partition INSERT OVERWRITE: only the partitions present in the
  * incoming frame are replaced, everything else is untouched, and re-running
  * the same job yields the same table state.
  */
object Sink {

  val PartitionCols: Seq[String] = Seq("invoice_month", "usage_day")

  /** One layout for every billing write: one file per (invoice_month,
    * usage_day) partition, its rows ordered by `billing_account_id`.
    *
    * The hash `repartition` on the partition columns puts each partition in
    * exactly ONE task, so it lands as one well-sized file: without it every
    * shuffle task holds rows for ~every (month, day) and the writer fans out
    * |tasks|·|partitions| tiny files (a multi-month drain at sf0.1, 2,499
    * day partitions × 32 tasks ≈ 80k files, was metadata-bound, ~10× slower
    * than the write itself).
    *
    * The per-task sort is (partition columns, billing_account_id): parquet
    * records per-row-group min/max stats, so a point read on an account
    * (the E3 repair, per-account reporting) skips whole row groups. The
    * partition columns lead because FileFormatWriter requires rows ordered
    * by them and otherwise inserts its own sort, which is free to discard
    * the account clustering once it spills. */
  def writePartitioned(df: DataFrame, path: String): Unit = {
    df.sparkSession.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    df.repartition(PartitionCols.map(col): _*)
      .sortWithinPartitions((PartitionCols :+ "billing_account_id").map(col): _*)
      .write
      .mode("overwrite")
      .partitionBy(PartitionCols: _*)
      .parquet(path)
  }
}

/** E1–E3 — the reference's three entry points are one parameterized job:
  * they differ only in the slice they recompute (SURVEY.md §3), and all three
  * run through [[IsolatedRun.runDays]]:
  *
  *  - E1 daily cron:     dayRange = Some(lookbackWindow(today))
  *  - E2 month backfill: dayRange = None (every usage_day of the month)
  *  - E3 account repair: accounts = Some(ids), the rows of every other
  *    account in the rewritten partitions are kept as they are
  *
  * The reference's per-day loop, 10k-row cursor chunks, tmp table and double
  * DELETE (main.py:164-203) disappear: predicates prune partitions at the
  * scan, and the write is atomic per partition.
  */
object Jobs {

  /** Daily incremental window: 4-day lookback clamped to the month start
    * (ref: main.py:165-171). Returns [start, endExclusive). */
  def lookbackWindow(today: LocalDate, lookbackDays: Int = 4): (LocalDate, LocalDate) = {
    val monthStart = today.withDayOfMonth(1)
    val start = today.minusDays(lookbackDays.toLong)
    (if (start.isBefore(monthStart)) monthStart else start, today.plusDays(1))
  }

  /** The rows of `df` (fact or target) in the invoice month, the day range
    * [from, until) and the accounts, where given. */
  private[pipeline] def slice(
      df: DataFrame,
      invoiceMonth: String,
      dayRange: Option[(LocalDate, LocalDate)],
      accounts: Option[Seq[String]]): DataFrame =
    Seq(
      Some((df: DataFrame) => df.filter(col("invoice_month") === invoiceMonth)),
      dayRange.map(r => (df: DataFrame) => df.filter(
        col("usage_day") >= lit(java.sql.Date.valueOf(r._1)) &&
          col("usage_day") < lit(java.sql.Date.valueOf(r._2)))),
      accounts.map(as => (df: DataFrame) => df.filter(col("billing_account_id").isin(as: _*)))
    ).flatten.foldLeft(df)((df, f) => f(df))

  /** The whole pipeline: filter fact to the requested slice → kernel →
    * conform. Pure (no I/O) so every launcher and test shares it. */
  def computeMonth(
      fact: DataFrame,
      dim: DataFrame,
      invoiceMonth: String,
      dayRange: Option[(LocalDate, LocalDate)] = None,
      accounts: Option[Seq[String]] = None,
      extraDiscount: Map[String, Double] = Map.empty): DataFrame =
    Conform.conformToTarget(Calculate.calculateWithCredits(
      slice(fact, invoiceMonth, dayRange, accounts), dim, extraDiscount))

  /** [[IsolatedRun.runDays]] over the parquet lake at `odsPath`/`dimPath`,
    * with the default failure log and alert sink. Returns the failed days. */
  def runMonth(
      spark: SparkSession,
      odsPath: String,
      dimPath: String,
      targetPath: String,
      invoiceMonth: String,
      dayRange: Option[(LocalDate, LocalDate)] = None,
      accounts: Option[Seq[String]] = None,
      extraDiscount: Map[String, Double] = Map.empty): Seq[LocalDate] =
    IsolatedRun.runDays(spark, spark.read.parquet(odsPath), spark.read.parquet(dimPath),
      targetPath, invoiceMonth, dayRange, accounts, extraDiscount = extraDiscount)
}
