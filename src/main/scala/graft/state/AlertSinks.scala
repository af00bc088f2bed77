package graft.state

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.MonitorSpec
import graft.state.AlertThrottle.Alert

/** S7 delivery: the reference alerts via email, PagerDuty and Campfire
  * (reference README.md:6; actionmailer + pagerduty + tinder in
  * Gemfile.lock:159,163), with routes stored per job as prefixed
  * `alert_keys` (db/schema.rb:59, e.g. "mailto:a@b",
  * "pagerduty:SERVICEKEY", "campfire:room").
  *
  * Design: [[AlertSink]] is the channel interface; each built-in sink
  * owns its channel's payload FORMAT while the wire transport is an
  * injected function (this container has no SMTP/HTTP egress — and at
  * scale delivery is a driver-side side effect over a handful of rows,
  * never part of the query plan). [[AlertDispatcher]] routes each fired
  * alert to its keys' sinks with bounded retries and appends one
  * delivery record per (alert, key) to a parquet alerts table — the
  * auditable equivalent of the reference's mailer/pager logs.
  */
trait AlertSink {
  /** Key prefix this sink serves ("mailto", "pagerduty", "campfire", "log"). */
  def channel: String
  /** Deliver one formatted payload to `address`; throw to signal a
    * retryable failure. */
  def deliver(address: String, subject: String, body: String): Unit
}

object AlertSinks {

  /** Email: RFC-2822-ish flat text handed to the transport (the
    * reference renders an ActionMailer alert mail). */
  final class MailSink(transport: String => Unit) extends AlertSink {
    val channel = "mailto"
    def deliver(address: String, subject: String, body: String): Unit =
      transport(s"To: $address\r\nSubject: $subject\r\n\r\n$body")
  }

  /** PagerDuty events API payload (service key = the address part). */
  final class PagerDutySink(transport: String => Unit) extends AlertSink {
    val channel = "pagerduty"
    private def esc(s: String) = s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    def deliver(address: String, subject: String, body: String): Unit =
      transport(s"""{"service_key":"${esc(address)}","event_type":"trigger",""" +
        s""""description":"${esc(subject)}","details":{"body":"${esc(body)}"}}""")
  }

  /** Campfire room speak (room = the address part). */
  final class CampfireSink(transport: String => Unit) extends AlertSink {
    val channel = "campfire"
    def deliver(address: String, subject: String, body: String): Unit =
      transport(s"[$address] $subject — $body")
  }

  /** Log channel — also the fallback for unknown prefixes. */
  final class LogSink(sink: String => Unit = s => Console.err.println(s"[alert] $s"))
      extends AlertSink {
    val channel = "log"
    def deliver(address: String, subject: String, body: String): Unit =
      sink(s"$subject — $body")
  }

  /** The default sink set with a shared transport. */
  def default(transport: String => Unit): Seq[AlertSink] = Seq(
    new MailSink(transport), new PagerDutySink(transport),
    new CampfireSink(transport), new LogSink(transport))
}

object AlertDispatcher {

  /** One delivery attempt outcome per (alert, alert_key). */
  final case class Delivery(jobId: Long, at: Timestamp, channel: String,
      address: String, attempts: Int, delivered: Boolean, message: String)

  /** "mailto:a@b" → ("mailto", "a@b"); bare "log:" → ("log", ""). */
  def parseKey(key: String): (String, String) = {
    val i = key.indexOf(':')
    if (i < 0) (key, "") else (key.take(i), key.drop(i + 1))
  }

  /** Route + deliver every fired alert with bounded retries and
    * exponential backoff (`backoffMs`, doubling per retry — the right
    * default for a real HTTP/SMTP sink; 0 keeps injected-transport
    * tests instant). `sleep` is injectable so specs assert the timing
    * without waiting. Unknown channels fall back to the "log" sink (and
    * say so in the record); a job with no keys defaults to "log:". */
  def dispatch(alerts: Seq[Alert], specOf: Long => Option[MonitorSpec],
      sinks: Seq[AlertSink], maxAttempts: Int = 3, backoffMs: Long = 0,
      sleep: Long => Unit = Thread.sleep): Seq[Delivery] = {
    val byChannel = sinks.map(s => s.channel -> s).toMap
    alerts.flatMap { a =>
      val spec = specOf(a.jobId)
      val name = spec.map(_.name).getOrElse(s"job ${a.jobId}")
      val subject = s"[graft] $name ${a.transition}"
      val body = spec.map(sp => s"monitor '${sp.monitorExpr}' ${a.transition} at ${a.at}")
        .getOrElse(s"${a.transition} at ${a.at}")
      val keys = spec.map(_.alertKeys).filter(_.nonEmpty).getOrElse(Seq("log:"))
      keys.map { key =>
        val (chan, addr) = parseKey(key)
        val (sink, note) = byChannel.get(chan) match {
          case Some(s) => (s, "")
          case None => (byChannel.getOrElse("log", new AlertSinks.LogSink()),
            s"(unknown channel '$chan') ")
        }
        var attempt = 0
        var done = false
        var err = ""
        while (!done && attempt < maxAttempts) {
          attempt += 1
          try { sink.deliver(addr, note + subject, body); done = true }
          catch {
            case scala.util.control.NonFatal(e) =>
              err = String.valueOf(e.getMessage)
              if (attempt < maxAttempts && backoffMs > 0)
                sleep(backoffMs << (attempt - 1))
          }
        }
        Delivery(a.jobId, a.at, if (note.isEmpty) chan else "log", addr, attempt, done,
          if (done) note + subject else s"delivery failed after $attempt attempts: $err")
      }
    }
  }

  /** Append delivery records to the parquet alerts table, one file tree
    * per channel (bounded driver-local rows: alerts × keys), through
    * [[graft.store.SharedRoot.append]]: appends to the table's root are
    * serialized per root, so the cycles of every monitor path share it
    * safely. */
  def persist(spark: SparkSession, deliveries: Seq[Delivery], path: String): Unit = {
    import spark.implicits._
    if (deliveries.nonEmpty) graft.store.SharedRoot.append(deliveries.toDF(), path, "channel")
  }

  /** Read-back for the E3 surface / audits. */
  def read(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)
}
