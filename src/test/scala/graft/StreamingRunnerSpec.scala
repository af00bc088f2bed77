package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.model.MonitorSpec
import graft.streaming.StreamingRunner

class StreamingRunnerSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(min: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")

  private val spec = MonitorSpec(
    id = 42, name = "stream-mon", targets = Seq("m.a"), minutes = 10,
    toDate = None, cronExpr = "*/5 * * * *", monitorExpr = "mean > 100",
    errorTimeoutMinutes = 60)

  test("ST2-ST5 end-to-end: sliding windows close on watermark, alerts throttle across batches") {
    val tmp = Files.createTempDirectory("graft-sr").toString
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(String, Timestamp, Double)]
    val stream = ms.toDF().toDF("metric", "ts", "value")

    def run(): Unit = {
      val q = StreamingRunner.start(spark, stream, spec, slide = "5 minutes",
        s"$tmp/alerts", s"$tmp/state", s"$tmp/ckpt")
      q.awaitTermination()
    }
    def alerts(): Seq[Timestamp] =
      try spark.read.parquet(s"$tmp/alerts").select("at").collect()
        .map(_.getTimestamp(0)).toSeq.sorted
      catch { case _: Exception => Nil }

    // batch 1: minutes 0..30, all failing (value 1 ⇒ mean ≤ 100)
    ms.addData((0 to 30).map(m => ("m.a", ts(m), 1.0)))
    run()
    assert(alerts().size == 1, s"first failing window alerts once, got ${alerts()}")

    // batch 2: minutes 31..60 still failing — inside error_timeout ⇒ throttled
    ms.addData((31 to 60).map(m => ("m.a", ts(m), 1.0)))
    run()
    assert(alerts().size == 1, "re-fire suppressed within error_timeout")

    // batch 3: minutes 61..90 still failing — timeout expired ⇒ exactly one more
    ms.addData((61 to 90).map(m => ("m.a", ts(m), 1.0)))
    run()
    val a = alerts()
    assert(a.size == 2, s"one re-alert after timeout, got $a")
    assert(a(1).getTime - a(0).getTime >= 60 * 60000L)
  }

  test("multiplexed: 3 monitors, one query, one checkpoint; verdicts equal the single-spec path") {
    val tmp = Files.createTempDirectory("graft-sr-mux").toString
    implicit val sqlCtx = spark.sqlContext
    // cohort: same window length, different expressions and reductions
    val cohort = Seq(
      spec.copy(id = 50, monitorExpr = "mean > 100"),
      spec.copy(id = 51, monitorExpr = "count > 3"),
      spec.copy(id = 52, monitorExpr = "max < 0.5 || sum > 10"))
    val data = (0 to 30).map(m => ("m.a", ts(m), 1.0)) ++
      (0 to 30 by 2).map(m => ("m.b", ts(m), 3.0))

    // multiplexed: one query over one MemoryStream, one checkpoint dir
    val msM = MemoryStream[(String, Timestamp, Double)]
    msM.addData(data)
    val mux = StreamingRunner.multiplexedVerdictStream(
      msM.toDF().toDF("metric", "ts", "value"), cohort, slide = "5 minutes")
    val qM = mux.writeStream.outputMode("append")
      .format("memory").queryName("mux_out")
      .option("checkpointLocation", s"$tmp/ckpt_mux")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    qM.awaitTermination()
    val muxRows = spark.table("mux_out")

    // reference: each spec through the existing single-spec stream
    cohort.foreach { sp =>
      val ms1 = MemoryStream[(String, Timestamp, Double)]
      ms1.addData(data)
      val one = StreamingRunner.verdictStream(
        ms1.toDF().toDF("metric", "ts", "value"), sp, slide = "5 minutes")
      val q1 = one.writeStream.outputMode("append")
        .format("memory").queryName(s"solo_${sp.id}")
        .option("checkpointLocation", s"$tmp/ckpt_${sp.id}")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q1.awaitTermination()
      val solo = spark.table(s"solo_${sp.id}")
      val keyCols = Seq("job_id", "metric", "window_end", "passed") ++
        solo.columns.filter(_.startsWith("red_"))
      val muxSet = muxRows.filter($"job_id" === sp.id)
        .select(keyCols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toString).toSet
      val soloSet = solo.select(keyCols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toString).toSet
      assert(soloSet.nonEmpty && muxSet == soloSet,
        s"job ${sp.id}: mux=${muxSet.size} solo=${soloSet.size} " +
          s"only-mux=${muxSet -- soloSet} only-solo=${soloSet -- muxSet}")
    }
    // and the whole cohort ran as ONE streaming query: a single
    // checkpoint directory carries the only state store
    assert(new java.io.File(s"$tmp/ckpt_mux/state").exists())
  }

  test("multiplexed alerts route each job to its own alert keys through one query") {
    val tmp = Files.createTempDirectory("graft-sr-mux2").toString
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(String, Timestamp, Double)]
    val cohort = Seq(
      spec.copy(id = 60, monitorExpr = "mean > 100", // fails on the data
        alertKeys = Seq("mailto:a@x")),
      spec.copy(id = 61, monitorExpr = "count > 0",  // passes → no alert
        alertKeys = Seq("pagerduty:K61")))
    ms.addData((0 to 30).map(m => ("m.a", ts(m), 1.0)))
    val sent = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = StreamingRunner.startMultiplexed(spark,
      ms.toDF().toDF("metric", "ts", "value"), cohort, slide = "5 minutes",
      s"$tmp/alerts", s"$tmp/state", s"$tmp/ckpt",
      sinks = graft.state.AlertSinks.default(sent.add(_)),
      deliveryPath = Some(s"$tmp/deliveries"))
    q.awaitTermination()
    val d = spark.read.parquet(s"$tmp/deliveries").collect()
    assert(d.length == 1 && d.head.getAs[String]("channel") == "mailto",
      s"only the failing job alerts, via its own key: ${d.toSeq}")
    assert(sent.size == 1 && sent.peek().startsWith("To: a@x"))
  }

  test("streaming alerts deliver through channel sinks into the delivery table") {
    val tmp = Files.createTempDirectory("graft-sr-d").toString
    implicit val sqlCtx = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Timestamp, Double)]
    val stream = ms.toDF().toDF("metric", "ts", "value")
    val routed = spec.copy(id = 43,
      alertKeys = Seq("mailto:oncall@example.com", "pagerduty:KEY"))
    val sent = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sinks = graft.state.AlertSinks.default(sent.add(_))

    ms.addData((0 to 30).map(m => ("m.a", ts(m), 1.0))) // failing windows
    val q = StreamingRunner.start(spark, stream, routed, slide = "5 minutes",
      s"$tmp/alerts", s"$tmp/state", s"$tmp/ckpt",
      sinks = sinks, deliveryPath = Some(s"$tmp/deliveries"))
    q.awaitTermination()

    val d = spark.read.parquet(s"$tmp/deliveries")
    val byChannel = d.groupBy("channel").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // one throttled alert × two alert_keys
    assert(byChannel == Map("mailto" -> 1L, "pagerduty" -> 1L), byChannel.toString)
    assert(d.filter("delivered").count() == 2)
    assert(sent.size == 2)
  }

  test("no sinks: a fired alert still goes out on the log channel and is recorded") {
    val tmp = Files.createTempDirectory("graft-sr-nosinks").toString
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(String, Timestamp, Double)]
    ms.addData((0 to 30).map(m => ("m.a", ts(m), 1.0))) // failing windows
    val q = StreamingRunner.start(spark, ms.toDF().toDF("metric", "ts", "value"),
      spec.copy(alertKeys = Seq("mailto:a@b")), slide = "5 minutes",
      s"$tmp/alerts", s"$tmp/state", s"$tmp/ckpt", deliveryPath = Some(s"$tmp/deliveries"))
    q.awaitTermination()
    val alerts = spark.read.parquet(s"$tmp/alerts").count()
    val d = spark.read.parquet(s"$tmp/deliveries").collect()
    assert(alerts == 1 && d.map(r => (r.getAs[String]("channel"),
      r.getAs[Boolean]("delivered"))).toSeq == Seq(("log", true)), d.toSeq.toString)
  }
}
