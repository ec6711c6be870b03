package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.time.LocalDate

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

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

/** E1's window job with the reference's per-day failure isolation (ref:
  * billing_calculation_service.py:464-468: log + CSV + alert, continue with
  * the next day). One window job, per-day isolation on failure: the whole
  * day range is computed and written as ONE dynamic-partition overwrite;
  * only if that throws — a failed overwrite commits no partition — is each
  * day retried as its own job, so one bad day neither blocks nor corrupts
  * the others (its partition simply isn't overwritten).
  */
object IsolatedRun {

  /** Writes `compute(days.head, days.last + 1)` in one overwrite; if that
    * fails, writes `compute(day, day + 1)` for each day independently,
    * logging and alerting each failed day. Returns the failed days. `days`
    * must be consecutive. The default compute is the kernel slice for the
    * range ([[Jobs.computeMonth]]). */
  def runDays(
      spark: SparkSession,
      fact: DataFrame,
      dim: DataFrame,
      targetPath: String,
      invoiceMonth: String,
      days: Seq[LocalDate],
      failureCsv: String = "failures.csv",
      alerter: Alerter = LogAlerter,
      extraDiscount: Map[String, Double] = Map.empty,
      computeRange: Option[(LocalDate, LocalDate) => DataFrame] = None): Seq[LocalDate] = {
    require(days.zip(days.drop(1)).forall { case (a, b) => b == a.plusDays(1) },
      s"days must be consecutive: $days")
    val compute = computeRange.getOrElse((from: LocalDate, until: LocalDate) =>
      Jobs.computeMonth(
        fact, dim, invoiceMonth, dayRange = Some((from, until)),
        extraDiscount = extraDiscount))
    def write(from: LocalDate, until: LocalDate): Unit =
      Sink.writePartitioned(compute(from, until), targetPath,
        sortCols = Seq("billing_account_id"))
    val windowFailed = days.nonEmpty && (
      try { write(days.head, days.last.plusDays(1)); false }
      catch {
        case NonFatal(e) =>
          System.err.println(
            s"[isolated-run] window ${days.head}..${days.last} of $invoiceMonth failed " +
              s"(${errorText(e)}); retrying day by day")
          true
      })
    val failed = if (!windowFailed) Nil else days.filter { day =>
      try {
        write(day, day.plusDays(1))
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
    if (failed.isEmpty) alerter.send(s"billing month $invoiceMonth complete (${days.size} days)")
    failed
  }

  /** An exception's message, or its class name when it has none (a bare
    * `NullPointerException`): the failure CSV and alert need a non-null text. */
  private def errorText(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)
}
