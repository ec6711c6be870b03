package graft.pipeline

import java.time.format.DateTimeFormatter
import java.time.{Duration, LocalDate, LocalDateTime, LocalTime}

import org.apache.spark.sql.SparkSession

/** E1–E3 — the CLI of the reference's three entry points (ref:
  * main.py:164-215: a scheduler fires `daily_cron_work` at 05:00, which
  * computes the 4-day lookback window clamped to the month start and
  * recomputes those partitions; excute_month_task.py: the month backfill;
  * main.py:64-135: the per-account repair).
  *
  * All three read the lake and hand one slice to [[IsolatedRun.runDays]]:
  * one [[Sink.writePartitioned]] atomic dynamic-partition overwrite of the
  * slice's day partitions, the days retried one by one only when that write
  * fails, each failed day logged to the failure CSV and alerted, and a
  * "complete" alert on a clean run. A repair keeps every other account's
  * rows in the partitions it rewrites. Any failed day makes the exit code 1.
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
               today: LocalDate = LocalDate.now()): Seq[LocalDate] =
    runSlice(spark, config, today.format(MonthFormat), Some(Jobs.lookbackWindow(today)), None)

  /** Reads the lake of `config` and runs [[IsolatedRun.runDays]] over one
    * slice: returns the failed days. */
  private def runSlice(spark: SparkSession, config: Config, invoiceMonth: String,
                       dayRange: Option[(LocalDate, LocalDate)],
                       accounts: Option[Seq[String]]): Seq[LocalDate] =
    IsolatedRun.runDays(
      spark, spark.read.parquet(config.odsPath), spark.read.parquet(config.dimPath),
      config.targetPath, invoiceMonth, dayRange, accounts,
      config.failureCsv, config.alerter, config.extraDiscount)

  private val MonthFormat = DateTimeFormatter.ofPattern("yyyyMM")

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
    * Returns a process exit code: 1 when any day failed, else 0. */
  def run(spark: SparkSession, args: Array[String]): Int =
    run(spark, args, Config("", "", ""))

  /** [[run]] with the failure CSV and alert sink of `defaults` (a
    * `--webhook` replaces the alert sink); its paths are ignored. */
  private[pipeline] def run(spark: SparkSession, args: Array[String], defaults: Config): Int = {
    require(args.length >= 3,
      "usage: Launcher <odsPath> <dimPath> <targetPath> [--today yyyy-MM-dd] " +
        "[--daemon HH:mm] [--webhook url] [--backfill yyyyMM] " +
        "[--accounts a,b,c [--month yyyyMM] [--window N]]")
    def flag(name: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }
    val config = defaults.copy(odsPath = args(0), dimPath = args(1), targetPath = args(2),
      alerter = flag("--webhook").map(new HttpAlerter(_)).getOrElse(defaults.alerter))
    val today = flag("--today").map(LocalDate.parse).getOrElse(LocalDate.now())

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
        try { java.time.YearMonth.parse(m, MonthFormat); true }
        catch { case _: java.time.format.DateTimeParseException => false },
        s"month '$m' does not parse as yyyyMM")
    require(flag("--window").isEmpty || flag("--accounts").isDefined,
      "--window only applies to the --accounts repair path (E1 uses the fixed lookback)")
    for (w <- flag("--window"); m <- flag("--month"))
      require(m == today.format(MonthFormat),
        s"--window is anchored to --today ($today), which is not in month $m — " +
          "drop --window for a whole-month repair or set --today inside the month")

    val accounts = flag("--accounts").map(_.split(',').toSeq)
    val failed = (flag("--backfill"), accounts, flag("--daemon")) match {
      case (None, None, Some(t)) => daemon(spark, config, LocalTime.parse(t))
      case (None, None, None) => runDaily(spark, config, today) // E1: one daily tick
      case (backfill, _, _) => // E2: the whole named month; E3: the named accounts
        runSlice(spark, config,
          backfill.orElse(flag("--month")).getOrElse(today.format(MonthFormat)),
          flag("--window").map(n => Jobs.lookbackWindow(today, n.toInt)), accounts)
    }
    if (failed.nonEmpty) 1 else 0
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
