package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.time.LocalDate

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}

/** S7 — append-only CSV failure log with header-on-create
  * (ref: main.py:15-32; duplicated at billing_calculation_service.py:19-34
  * and excute_month_task.py:16-33 — one implementation here). Driver-side
  * file, not a distributed write: failure rows are O(days), not O(data).
  */
object FailureLog {
  def append(path: String, row: Seq[String], header: Seq[String]): Unit = {
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    val withHeader = !Files.exists(p)
    val sb = new StringBuilder
    if (withHeader) sb.append(header.mkString(",")).append('\n')
    sb.append(row.map(v => "\"" + v.replace("\"", "\"\"") + "\"").mkString(",")).append('\n')
    Files.write(p, sb.toString.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
}

/** S8 — alert sink (ref: billing_calculation_service.py:470-484, a Feishu
  * webhook POST). Pluggable because the alert transport is deployment
  * config, not engine semantics; the default logs to stderr (this
  * environment has no egress).
  */
trait Alerter { def send(message: String): Unit }
object LogAlerter extends Alerter {
  def send(message: String): Unit = System.err.println(s"[alert] $message")
}

/** S8 HTTP transport — POSTs the reference's webhook JSON shape
  * (billing_calculation_service.py:470-484: `{"msg_type":"text","content":
  * {"text": …}}`). A failed alert logs and returns: alerting must never fail
  * the day it reports on (the reference swallows the requests error the same
  * way, :482-484). */
final class HttpAlerter(
    webhookUrl: String,
    timeout: java.time.Duration = java.time.Duration.ofSeconds(10)) extends Alerter {

  private lazy val client =
    java.net.http.HttpClient.newBuilder().connectTimeout(timeout).build()

  /** Minimal JSON string escape (quote, backslash, control chars). */
  private def jsonQuote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'           => sb.append("\\\"")
      case '\\'          => sb.append("\\\\")
      case '\n'          => sb.append("\\n")
      case '\r'          => sb.append("\\r")
      case '\t'          => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c             => sb.append(c)
    }
    sb.append('"').toString
  }

  def payload(message: String): String =
    s"""{"msg_type":"text","content":{"text":${jsonQuote(message)}}}"""

  def send(message: String): Unit =
    try {
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(webhookUrl))
        .timeout(timeout)
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          payload(message), StandardCharsets.UTF_8))
        .build()
      client.send(req, java.net.http.HttpResponse.BodyHandlers.discarding())
      ()
    } catch {
      case e: Exception =>
        System.err.println(s"[alert] webhook POST failed (${e.getMessage}); message was: $message")
    }
}

/** The one billing run from lake to target, behind E1, E2 and E3 (ref:
  * billing_calculation_service.py:464-468: log + CSV + alert, continue with
  * the next day). The whole slice is computed and written as ONE
  * dynamic-partition overwrite; only if that throws (a failed overwrite
  * commits no partition) is each day retried as its own job, so one bad day
  * neither blocks nor corrupts the others: its partition simply isn't
  * overwritten.
  *
  * An account repair (E3) rewrites whole (invoice_month, usage_day)
  * partitions, so each one it writes is the named accounts' recomputed rows
  * plus the target's rows of every other account, carried over unchanged
  * (their `etl_time` included).
  */
object IsolatedRun {

  /** Writes the slice of `invoiceMonth` in [from, until) of `dayRange`
    * (None: every usage_day of the month) and of `accounts` (None: all) in
    * one overwrite; if that fails, writes each day of the slice
    * independently, logging and alerting each failed day. A whole-month run
    * lists the slice's days only after its overwrite has failed. Returns the
    * failed days. `computeRange` replaces the kernel slice for a range
    * ([[Jobs.computeMonth]]); the tests inject failures through it. */
  def runDays(
      spark: SparkSession,
      fact: DataFrame,
      dim: DataFrame,
      targetPath: String,
      invoiceMonth: String,
      dayRange: Option[(LocalDate, LocalDate)],
      accounts: Option[Seq[String]] = None,
      failureCsv: String = "failures.csv",
      alerter: Alerter = LogAlerter,
      extraDiscount: Map[String, Double] = Map.empty,
      computeRange: Option[Option[(LocalDate, LocalDate)] => DataFrame] = None): Seq[LocalDate] = {
    val compute = computeRange.getOrElse((range: Option[(LocalDate, LocalDate)]) =>
      Jobs.computeMonth(fact, dim, invoiceMonth, range, accounts, extraDiscount))
    def targetExists = {
      val p = new org.apache.hadoop.fs.Path(targetPath)
      p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
    }
    // a repair adds the target's rows of every other account in the slice,
    // read with the kernel's schema (partition inference would read
    // invoice_month back as an integer)
    def write(range: Option[(LocalDate, LocalDate)]): Unit = {
      val out = compute(range)
      val kept = accounts.filter(_ => targetExists).map(as =>
        Jobs.slice(spark.read.schema(out.schema).parquet(targetPath), invoiceMonth, range, None)
          .filter(!coalesce(col("billing_account_id").isin(as: _*), lit(false))))
      Sink.writePartitioned(kept.fold(out)(out.unionByName), targetPath)
    }
    // the retried days: the range's, or every usage_day of the month's slice
    // (late usage invoiced a month later included)
    def days: Seq[LocalDate] = dayRange.fold(
      Jobs.slice(fact, invoiceMonth, None, accounts).select("usage_day").distinct()
        .where(col("usage_day").isNotNull).orderBy("usage_day")
        .collect().map(_.getDate(0).toLocalDate).toSeq)(r =>
      Iterator.iterate(r._1)(_.plusDays(1)).takeWhile(_.isBefore(r._2)).toSeq)
    val scope = dayRange.fold("all days")(r => s"${r._1}..${r._2.minusDays(1)}") +
      accounts.fold("")(as => s", accounts ${as.mkString(",")}")
    val windowFailed =
      try { write(dayRange); false }
      catch {
        case NonFatal(e) =>
          System.err.println(
            s"[isolated-run] $invoiceMonth ($scope) failed (${errorText(e)}); retrying day by day")
          true
      }
    val failed = if (!windowFailed) Nil else days.filter { day =>
      try {
        write(Some((day, day.plusDays(1))))
        false
      } catch {
        case NonFatal(e) =>
          FailureLog.append(failureCsv,
            Seq(invoiceMonth, day.toString, errorText(e)),
            Seq("invoice_month", "usage_day", "error"))
          alerter.send(s"billing day $day of $invoiceMonth failed: ${errorText(e)}")
          true
      }
    }
    if (failed.isEmpty) alerter.send(s"billing month $invoiceMonth complete ($scope)")
    failed
  }

  /** An exception's message, or its class name when it has none (a bare
    * `NullPointerException`): the failure CSV and alert need a non-null text. */
  private def errorText(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)
}
