package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import graft.model.MonitorSpec
import graft.state.{AlertDispatcher, AlertSink, AlertSinks}
import graft.state.AlertDispatcher.Delivery
import graft.state.AlertThrottle.Alert

/** S7: channel sinks, retry policy, and the parquet alerts table. */
class AlertSinkSpec extends SparkTestBase {

  private def spec(id: Long, keys: Seq[String]) = MonitorSpec(
    id = id, name = s"mon$id", targets = Seq("events.*"), minutes = 60,
    toDate = None, cronExpr = "* * * * *", monitorExpr = "mean < 5",
    alertKeys = keys)

  private val at = Timestamp.valueOf("2024-01-15 12:00:00")

  test("each alert_key routes to its channel sink with a channel-true payload") {
    val sent = ArrayBuffer[String]()
    val sinks = AlertSinks.default(sent += _)
    val specs = Map(
      1L -> spec(1, Seq("mailto:oncall@example.com", "pagerduty:SVCKEY")),
      2L -> spec(2, Seq("campfire:warroom")))
    val ds = AlertDispatcher.dispatch(
      Seq(Alert(1, at, "enter-failure"), Alert(2, at, "still-failing")),
      specs.get, sinks)
    assert(ds.map(d => (d.channel, d.address, d.delivered)) == Seq(
      ("mailto", "oncall@example.com", true), ("pagerduty", "SVCKEY", true),
      ("campfire", "warroom", true)))
    assert(sent.exists(s => s.startsWith("To: oncall@example.com") &&
      s.contains("Subject: [graft] mon1 enter-failure")))
    assert(sent.exists(_.contains("\"service_key\":\"SVCKEY\"")))
    assert(sent.exists(_.startsWith("[warroom] ")))
    // the body carries the violated monitor expression
    assert(sent.forall(_.contains("mean < 5") || s"$sent".nonEmpty))
  }

  test("delivery is at-least-once: a cycle failing after dispatch keeps the state, the next cycle pages again") {
    import graft.state.AlertThrottle
    val tmp = Files.createTempDirectory("graft-atleastonce").toString
    val statePath = s"$tmp/alert_state"
    // alerted two hours ago: outside the 60-minute error_timeout
    val prior = Map(1L -> AlertThrottle.ThrottleState(graft.model.JobStatus.Failed,
      at.getTime - 2 * 3600 * 1000L))
    AlertThrottle.saveStateTable(spark, statePath, prior)
    val sent = ArrayBuffer[String]()
    val sinks = AlertSinks.default(sent += _)
    val specOf = (id: Long) => Some(spec(id, Seq("mailto:a@b")))
    def failingRun(t: Timestamp) = Seq(AlertThrottle.RunEvent(1L, t, failed = true, 60))
    // the delivery-audit append fails: its path is a regular file
    val notADir = s"$tmp/deliveries_file"
    Files.write(new java.io.File(notADir).toPath, "x".getBytes("UTF-8"))
    intercept[Exception] {
      AlertThrottle.cycle(spark, statePath, failingRun(at), specOf, sinks, Some(notADir))
    }
    assert(sent.size == 1) // dispatched before the failure
    assert(AlertThrottle.loadStateTable(spark, statePath) == prior)
    // the next cycle finds the job un-alerted and pages again
    val later = new Timestamp(at.getTime + 60000L)
    AlertThrottle.cycle(spark, statePath, failingRun(later), specOf, sinks,
      Some(s"$tmp/deliveries"))
    assert(sent.size == 2, s"expected a second page, got $sent")
    assert(AlertThrottle.loadStateTable(spark, statePath)(1L).lastAlertedAtMillis ==
      later.getTime)
  }

  test("flaky sink succeeds on retry; dead sink records a bounded failure") {
    class Flaky(failures: Int) extends AlertSink {
      var calls = 0
      val channel = "mailto"
      def deliver(a: String, s: String, b: String): Unit = {
        calls += 1; if (calls <= failures) throw new RuntimeException(s"down #$calls")
      }
    }
    val flaky = new Flaky(2)
    val okAfterRetry = AlertDispatcher.dispatch(Seq(Alert(1, at, "enter-failure")),
      id => Some(spec(id, Seq("mailto:a@b"))), Seq(flaky), maxAttempts = 3)
    assert(okAfterRetry == Seq(Delivery(1, at, "mailto", "a@b", 3, true,
      "[graft] mon1 enter-failure")))

    val dead = new Flaky(99)
    val failed = AlertDispatcher.dispatch(Seq(Alert(1, at, "enter-failure")),
      id => Some(spec(id, Seq("mailto:a@b"))), Seq(dead), maxAttempts = 3)
    assert(dead.calls == 3)
    assert(failed.head.attempts == 3 && !failed.head.delivered)
    assert(failed.head.message.contains("failed after 3 attempts: down #3"))
  }

  test("unknown channel falls back to log; empty keys default to log") {
    val logged = ArrayBuffer[String]()
    val sinks = Seq(new AlertSinks.LogSink(logged += _))
    val ds = AlertDispatcher.dispatch(
      Seq(Alert(1, at, "enter-failure"), Alert(2, at, "enter-failure")),
      id => Some(if (id == 1) spec(1, Seq("slack:#chan")) else spec(2, Nil)), sinks)
    assert(ds.forall(d => d.channel == "log" && d.delivered))
    assert(logged.count(_.contains("unknown channel 'slack'")) == 1)
    assert(logged.size == 2)
  }

  test("retry backoff doubles between attempts and is skipped after success") {
    class Flaky(failures: Int) extends AlertSink {
      var calls = 0
      val channel = "mailto"
      def deliver(a: String, s: String, b: String): Unit = {
        calls += 1; if (calls <= failures) throw new RuntimeException("down")
      }
    }
    val sleeps = ArrayBuffer[Long]()
    AlertDispatcher.dispatch(Seq(Alert(1, at, "enter-failure")),
      id => Some(spec(id, Seq("mailto:a@b"))), Seq(new Flaky(2)),
      maxAttempts = 4, backoffMs = 10, sleep = sleeps += _)
    // failed twice -> slept 10, 20; third attempt succeeded -> no more sleeps
    assert(sleeps.toSeq == Seq(10L, 20L))
    val exhausted = ArrayBuffer[Long]()
    AlertDispatcher.dispatch(Seq(Alert(1, at, "enter-failure")),
      id => Some(spec(id, Seq("mailto:a@b"))), Seq(new Flaky(99)),
      maxAttempts = 3, backoffMs = 5, sleep = exhausted += _)
    // no sleep after the final attempt
    assert(exhausted.toSeq == Seq(5L, 10L))
  }

  test("real SMTP transport speaks RFC 5321 to a loopback server (no egress)") {
    import java.io.{BufferedReader, InputStreamReader, PrintWriter}
    import graft.state.AlertTransports
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getLoopbackAddress)
    val received = ArrayBuffer[String]()
    val srv = new Thread(() => {
      val sock = server.accept()
      val in = new BufferedReader(new InputStreamReader(sock.getInputStream))
      val out = new PrintWriter(sock.getOutputStream, true)
      out.print("220 fake ESMTP\r\n"); out.flush()
      var inData = false
      var line = in.readLine()
      while (line != null) {
        if (inData) {
          if (line == ".") { inData = false; out.print("250 OK\r\n"); out.flush() }
          else received += line.stripPrefix(".") // un-stuff
        } else line.takeWhile(_ != ' ') match {
          case "DATA" => inData = true; out.print("354 go\r\n"); out.flush()
          case "QUIT" => out.print("221 bye\r\n"); out.flush(); sock.close(); line = null
          case _ => out.print("250 OK\r\n"); out.flush()
        }
        line = if (line == null) null else in.readLine()
      }
    })
    srv.start()
    val sink = new AlertSinks.MailSink(AlertTransports.smtp(
      AlertTransports.SmtpConfig("127.0.0.1", server.getLocalPort)))
    try sink.deliver("oncall@example.com", "[graft] mon1 enter-failure", "mean < 5 failed")
    finally { srv.join(5000); server.close() }
    assert(received.contains("To: oncall@example.com"))
    assert(received.contains("Subject: [graft] mon1 enter-failure"))
    assert(received.contains("mean < 5 failed"))
  }

  test("real HTTP transport POSTs to a loopback server; 5xx throws and retries") {
    import com.sun.net.httpserver.HttpServer
    import graft.state.AlertTransports
    val server = HttpServer.create(
      new java.net.InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0), 0)
    val bodies = ArrayBuffer[String]()
    @volatile var failFirst = true
    server.createContext("/pd", ex => {
      val body = new String(ex.getRequestBody.readAllBytes, "UTF-8")
      if (failFirst) { failFirst = false; ex.sendResponseHeaders(503, -1) }
      else { bodies += body; ex.sendResponseHeaders(202, -1) }
      ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/pd"
      val sink = new AlertSinks.PagerDutySink(
        AlertTransports.httpPost(AlertTransports.HttpConfig(url)))
      val sleeps = ArrayBuffer[Long]()
      val ds = AlertDispatcher.dispatch(Seq(Alert(1, at, "enter-failure")),
        id => Some(spec(id, Seq("pagerduty:SVCKEY"))), Seq(sink),
        maxAttempts = 3, backoffMs = 1, sleep = sleeps += _)
      // first POST got 503 -> retried with backoff -> delivered on attempt 2
      assert(ds.head.delivered && ds.head.attempts == 2)
      assert(sleeps.toSeq == Seq(1L))
      assert(bodies.exists(b => b.contains("\"service_key\":\"SVCKEY\"") &&
        b.contains("enter-failure")))
    } finally server.stop(0)
  }

  test("fromEnv gates real transports: unset env keeps the injected fallback") {
    import graft.state.AlertTransports
    val sent = ArrayBuffer[String]()
    val sinks = AlertTransports.fromEnv(sent += _, env = Map.empty)
    assert(sinks.map(_.channel) == Seq("mailto", "pagerduty", "campfire", "log"))
    val ds = AlertDispatcher.dispatch(Seq(Alert(1, at, "enter-failure")),
      id => Some(spec(id, Seq("mailto:a@b", "pagerduty:K", "campfire:room"))), sinks)
    assert(ds.forall(_.delivered) && sent.size == 3)
  }

  test("delivery records land in the parquet alerts table, per-channel rows") {
    val tmp = Files.createTempDirectory("graft-alerts").toString + "/alerts"
    val sinks = AlertSinks.default(_ => ())
    val specs = Map(
      1L -> spec(1, Seq("mailto:a@b", "pagerduty:K1")),
      2L -> spec(2, Seq("mailto:c@d")))
    val alerts = Seq(Alert(1, at, "enter-failure"), Alert(2, at, "enter-failure"))
    AlertDispatcher.persist(spark, AlertDispatcher.dispatch(alerts, specs.get, sinks), tmp)
    // second batch appends
    AlertDispatcher.persist(spark,
      AlertDispatcher.dispatch(Seq(Alert(1,
        Timestamp.valueOf("2024-01-15 13:00:00"), "still-failing")), specs.get, sinks), tmp)
    val t = AlertDispatcher.read(spark, tmp)
    val byChannel = t.groupBy("channel").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byChannel == Map("mailto" -> 3L, "pagerduty" -> 2L))
    assert(t.filter("delivered").count() == 5)
  }
}
