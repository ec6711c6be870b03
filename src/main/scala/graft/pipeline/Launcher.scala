package graft.pipeline

import java.time.format.DateTimeFormatter
import java.time.{Duration, LocalDate, LocalDateTime, LocalTime}

import org.apache.spark.sql.SparkSession

/** E1 — the daily entry point (ref: main.py:164-215: a scheduler fires
  * `daily_cron_work` at 05:00, which computes the 4-day lookback window
  * clamped to the month start and recomputes those partitions).
  *
  * One tick = [[runDaily]]: lookback window → one window job, per-day
  * isolation on failure ([[IsolatedRun.runDays]]) → idempotent partition
  * overwrite → completion/failure alerts. The reference's per-day loop of
  * tmp-table/double-DELETE swaps collapses into ONE
  * [[Sink.writePartitioned]] atomic dynamic-partition overwrite of the
  * window's day partitions; the days are retried one by one only when
  * that write fails.
  *
  * The `main` runs one tick by default (cron owns scheduling in a real
  * deployment — one process per tick is the operable shape); `--daemon
  * HH:mm` reproduces the reference's self-scheduling loop for parity.
  */
object Launcher {

  final case class Config(
      odsPath: String,
      dimPath: String,
      targetPath: String,
      failureCsv: String = "failures.csv",
      alerter: Alerter = LogAlerter,
      extraDiscount: Map[String, Double] = Map.empty)

  /** One E1 tick for `today`: returns the failed days (empty = clean run). */
  def runDaily(spark: SparkSession, config: Config,
               today: LocalDate = LocalDate.now()): Seq[LocalDate] = {
    val (start, endExclusive) = Jobs.lookbackWindow(today)
    val invoiceMonth = today.format(DateTimeFormatter.ofPattern("yyyyMM"))
    val days = Iterator.iterate(start)(_.plusDays(1))
      .takeWhile(_.isBefore(endExclusive)).toSeq
    val fact = spark.read.parquet(config.odsPath)
    val dim = spark.read.parquet(config.dimPath)
    IsolatedRun.runDays(
      spark, fact, dim, config.targetPath, invoiceMonth, days,
      config.failureCsv, config.alerter, config.extraDiscount)
  }

  /** Next daily fire time strictly after `now`: today at `at` if that is
    * still ahead, else tomorrow at `at`. Pure — the daemon loop's only
    * logic, extracted so the schedule arithmetic is testable (the loop
    * itself is deliberately untestable: it never returns). */
  def nextTick(now: LocalDateTime, at: LocalTime): LocalDateTime = {
    val todayAt = now.toLocalDate.atTime(at)
    if (todayAt.isAfter(now)) todayAt else todayAt.plusDays(1)
  }

  /** Sleep until the next `at` (today or tomorrow), run a tick, repeat —
    * the reference's `schedule.every().day.at("05:00")` loop. */
  def daemon(spark: SparkSession, config: Config, at: LocalTime): Nothing = {
    while (true) {
      val now = LocalDateTime.now()
      Thread.sleep(math.max(0L, Duration.between(now, nextTick(now, at)).toMillis))
      runDaily(spark, config)
    }
    throw new IllegalStateException("unreachable")
  }

  /** CLI dispatch for all three reference entry points (testable core —
    * `main` adds the SparkSession lifecycle):
    *
    *  - default              → E1 daily tick (main.py:164-203)
    *  - `--backfill yyyyMM`  → E2 full-month backfill
    *                           (excute_month_task.py:167-200)
    *  - `--accounts a,b,c`   → E3 per-account repair (main.py:64-135);
    *    `--month yyyyMM` scopes it (default: current month),
    *    `--window N` restricts to the N-day lookback ending today
    *    (the reference's repair windows, main.py:86-104)
    *
    * Returns a process exit code (0 = clean). */
  def run(spark: SparkSession, args: Array[String]): Int = {
    require(args.length >= 3,
      "usage: Launcher <odsPath> <dimPath> <targetPath> [--today yyyy-MM-dd] " +
        "[--daemon HH:mm] [--webhook url] [--backfill yyyyMM] " +
        "[--accounts a,b,c [--month yyyyMM] [--window N]]")
    def flag(name: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }
    val alerter = flag("--webhook").map(new HttpAlerter(_)).getOrElse(LogAlerter)
    val config = Config(args(0), args(1), args(2), alerter = alerter)
    val today = flag("--today").map(LocalDate.parse).getOrElse(LocalDate.now())
    val monthFmt = DateTimeFormatter.ofPattern("yyyyMM")

    // reject contradictory flag combinations instead of silently dropping
    // one side and alerting "complete" on work that never ran
    require(!(flag("--backfill").isDefined && flag("--accounts").isDefined),
      "--backfill recomputes ALL accounts; combine --month with --accounts for a scoped repair")
    require(
      !(flag("--daemon").isDefined &&
        (flag("--backfill").isDefined || flag("--accounts").isDefined)),
      "--daemon loops the E1 daily tick; it cannot be combined with the " +
        "one-shot --backfill/--accounts paths (which would silently win)")
    // a malformed month (e.g. '2026-01') would match zero invoice_month
    // partitions and still alert "complete" on zero work — fail fast instead,
    // like --today/--daemon already do via LocalDate/LocalTime.parse
    for (m <- flag("--backfill") ++ flag("--month"))
      require(
        try { java.time.YearMonth.parse(m, monthFmt); true }
        catch { case _: java.time.format.DateTimeParseException => false },
        s"month '$m' does not parse as yyyyMM")
    require(flag("--window").isEmpty || flag("--accounts").isDefined,
      "--window only applies to the --accounts repair path (E1 uses the fixed lookback)")
    for (w <- flag("--window"); m <- flag("--month"))
      require(m == today.format(monthFmt),
        s"--window is anchored to --today ($today), which is not in month $m — " +
          "drop --window for a whole-month repair or set --today inside the month")

    (flag("--backfill"), flag("--accounts"), flag("--daemon")) match {
      case (Some(month), _, _) => // E2: whole named month, no day filter
        Jobs.runMonth(spark, config.odsPath, config.dimPath, config.targetPath,
          month, dayRange = None, accounts = None,
          extraDiscount = config.extraDiscount)
        alerter.send(s"backfill $month complete")
        0
      case (None, Some(accountsCsv), _) => // E3: repair named accounts
        val month = flag("--month").getOrElse(today.format(monthFmt))
        val dayRange = flag("--window").map(n => Jobs.lookbackWindow(today, n.toInt))
        Jobs.runMonth(spark, config.odsPath, config.dimPath, config.targetPath,
          month, dayRange, accounts = Some(accountsCsv.split(',').toSeq),
          extraDiscount = config.extraDiscount)
        alerter.send(s"repair $month accounts=$accountsCsv complete")
        0
      case (None, None, Some(t)) =>
        daemon(spark, config, LocalTime.parse(t))
      case (None, None, None) => // E1: one daily tick
        if (runDaily(spark, config, today).nonEmpty) 1 else 0
    }
  }

  /** args: see [[run]]. Default: one E1 tick for the current date. */
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .appName("graft-daily")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val code = try run(spark, args) finally spark.stop()
    if (code != 0) sys.exit(code)
  }
}
