package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.engine.{Backtest, Planner, Runner}
import graft.model.{JobStatus, MonitorSpec}
import graft.state.AlertThrottle
import graft.state.AlertThrottle.RunEvent
import graft.store.{MetricSource, Tables}
import graft.streaming.StreamingRunner

class EngineSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val store = Tables.metricStore(spark, dir)

  private def spec(expr: String, targets: Seq[String] = Seq("events.*"),
      toDate: Option[String] = Some("2024-01-15 12:00:00")) = MonitorSpec(
    id = 1, name = "t", targets = targets, minutes = 720,
    toDate = toDate.map(Timestamp.valueOf), cronExpr = "*/5 * * * *",
    monitorExpr = expr)

  test("E1 evaluate: per-series verdicts with reductions") {
    val v = Runner.evaluate(spark, store, spec("mean > 0 && count > 0"),
      Timestamp.valueOf("2024-01-15 12:00:00"))
    assert(v.nonEmpty && v.forall(_.passed))
  }

  test("threshold failure flips job status; message names the monitor") {
    val v = Runner.evaluate(spark, store, spec("mean > 1000000"),
      Timestamp.valueOf("2024-01-15 12:00:00"))
    assert(v.nonEmpty && v.forall(!_.passed))
    assert(Runner.jobStatus(v) == JobStatus.Failed)
    assert(v.head.message.contains("violated"))
  }

  test("ST8 backtest determinism: same to_date ⇒ identical verdicts") {
    val now1 = Timestamp.valueOf("2024-02-01 00:00:00")
    val now2 = Timestamp.valueOf("2024-03-01 00:00:00") // different 'now'
    val a = Runner.evaluate(spark, store, spec("mean < 100"), now1)
    val b = Runner.evaluate(spark, store, spec("mean < 100"), now2)
    assert(a == b) // to_date pins the window; wall clock is irrelevant
  }

  test("empty target result ⇒ job error status") {
    val v = Runner.evaluate(spark, store, spec("mean > 0", targets = Seq("nosuch.metric")),
      Timestamp.valueOf("2024-01-15 12:00:00"))
    assert(v.isEmpty && Runner.jobStatus(v) == JobStatus.Error)
  }

  test("target DSL end-to-end inside a monitor (summarize + glob)") {
    val v = Runner.evaluate(spark, store,
      spec("sum > 0", targets = Seq("summarize(events.{click,view}, \"1h\", \"sum\")")),
      Timestamp.valueOf("2024-01-15 12:00:00"))
    assert(v.nonEmpty)
  }

  test("E1 persist + E3 latest-run read path") {
    val tmp = Files.createTempDirectory("graft").toString
    val s = spec("mean > 1000000") // failing → job_errors written too
    Runner.runOnce(spark, store, s, Timestamp.valueOf("2024-01-15 12:00:00"),
      s"$tmp/job_data", s"$tmp/job_errors")
    Runner.runOnce(spark, store, s.copy(toDate = Some(Timestamp.valueOf("2024-01-16 12:00:00"))),
      Timestamp.valueOf("2024-01-16 12:00:00"), s"$tmp/job_data", s"$tmp/job_errors")
    val latest = Runner.latestRuns(spark, s"$tmp/job_data").collect()
    assert(latest.length == 1) // one job
    assert(latest(0).getAs[Timestamp]("window_end") == Timestamp.valueOf("2024-01-16 12:00:00"))
    assert(latest(0).getAs[String]("status") == JobStatus.Failed)
    assert(spark.read.parquet(s"$tmp/job_errors").count() > 0)
  }

  test("E1 runOnce scans the store exactly once (verdicts + chart from one plan)") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val scans = new AtomicInteger(0)
    // AQE hides the real tree: AdaptiveSparkPlanExec / QueryStageExec
    // expose their subplans via fields, not children — recurse manually.
    def scansIn(p: org.apache.spark.sql.execution.SparkPlan): Int = {
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      val self = p match {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("events.parquet")) => 1
        case _ => 0
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      self + kids.map(scansIn).sum
    }
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        scans.addAndGet(scansIn(qe.executedPlan))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val tmp = Files.createTempDirectory("graft-onescan").toString
      Runner.runOnce(spark, graft.store.MetricSource.events(spark, dir),
        spec("mean > 0 && count > 0"), Timestamp.valueOf("2024-01-15 12:00:00"),
        s"$tmp/job_data", s"$tmp/job_errors")
      // listener delivery is async: poll until the count is stable
      var last = -1; var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val cur = scans.get()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      assert(scans.get() == 1,
        s"expected exactly one events.parquet scan per run, saw ${scans.get()}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("runOnce persists a sorted per-metric chart payload") {
    val tmp = Files.createTempDirectory("graft-chart").toString
    Runner.runOnce(spark, graft.store.MetricSource.events(spark, dir),
      spec("mean > 0", targets = Seq("events.click", "events.{click,view}")),
      Timestamp.valueOf("2024-01-15 12:00:00"), s"$tmp/job_data", s"$tmp/job_errors")
    val data = spark.read.parquet(s"$tmp/job_data").head.getAs[String]("data")
    // overlapping targets chart each metric once
    assert(data.indexOf("events.click") == data.lastIndexOf("events.click"))
    assert(data.contains("events.view"))

    // single-metric run: the whole payload is one series → ts ascending
    val tmp2 = Files.createTempDirectory("graft-chart2").toString
    Runner.runOnce(spark, graft.store.MetricSource.events(spark, dir),
      spec("mean > 0", targets = Seq("events.click")),
      Timestamp.valueOf("2024-01-15 12:00:00"), s"$tmp2/job_data", s"$tmp2/job_errors")
    val one = spark.read.parquet(s"$tmp2/job_data").head.getAs[String]("data")
    val ts = """"ts":"([^"]+)"""".r.findAllMatchIn(one).map(_.group(1)).toSeq
    assert(ts.nonEmpty && ts == ts.sorted)
  }

  test("job_data chart JSON is byte-identical to the collect_list aggregate it replaced") {
    import org.apache.spark.sql.functions.{col, collect_list, struct, to_json}
    import Runner.{ChartPoint, ChartSeries}
    def pt(ts: String, v: java.lang.Double) = ChartPoint(Timestamp.valueOf(ts), v)
    val chart = Seq(
      ChartSeries("events.click", Seq(pt("2024-01-15 11:00:00", 1.5),
        pt("2024-01-15 11:01:00", null), pt("2024-01-15 11:02:00", -0.0))),
      ChartSeries("events.\"quoted\" é", Nil),
      ChartSeries("events.view", Seq(pt("2024-01-15 11:00:30", Double.NaN),
        pt("2024-01-15 11:03:00", 1e-300))))
    // a full chart, a null-only series and the empty (error-path) chart
    Seq(chart, Seq(ChartSeries("m", Seq(pt("2024-01-15 11:00:00", null)))), Nil).foreach { c =>
      // the oracle: the aggregate the run's persist used to plan, over
      // one partition so collect_list keeps the chart's order
      val oracle = (if (c.isEmpty) spark.emptyDataset[ChartSeries] else c.toDS()).toDF()
        .coalesce(1).agg(to_json(collect_list(struct(col("metric"), col("points")))))
        .head().getString(0)
      val tmp = Files.createTempDirectory("graft-chart-bytes").toString
      Runner.persistRuns(spark, Seq(Runner.Run(spec("mean > 0"), Nil, c)), s"$tmp/job_data",
        s"$tmp/job_errors")
      val data = spark.read.parquet(s"$tmp/job_data").head().getAs[String]("data")
      assert(data == oracle)
    }
  }

  test("ST5 throttle: no re-alert within error_timeout; recovery re-arms transition label") {
    def ev(min: Int, failed: Boolean) =
      RunEvent(7L, Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00"), failed, 60)
    val events = Seq(
      ev(0, failed = true), // alert (enter-failure)
      ev(10, failed = true), // throttled
      ev(50, failed = true), // throttled
      ev(59, failed = false), // recovery
    )
    val (alerts, _) = AlertThrottle.replay(events, Map.empty)
    assert(alerts.length == 1 && alerts(0).transition == "enter-failure")

    val events2 = Seq(ev(0, true), ev(30, false), ev(45, true), ev(61, true))
    val (alerts2, _) = AlertThrottle.replay(events2, Map.empty)
    // 00:45 fail is within 60min of the 00:00 alert → suppressed even
    // after recovery (throttle clock is per-alert, like last_alerted_at).
    // 01:01 fires — and it is the FIRST DELIVERED alert of the episode
    // that began at 00:45 (the recipient never saw an enter-failure for
    // it), so it must be labeled 'enter-failure', not a continuation.
    assert(alerts2.length == 2)
    assert(alerts2(1).transition == "enter-failure")

    // the continuation label still applies within one DELIVERED episode:
    // no recovery between the alerts → 'still-failing'
    val events3 = Seq(ev(0, true), ev(45, true), ev(61, true))
    val (alerts3, _) = AlertThrottle.replay(events3, Map.empty)
    assert(alerts3.length == 2)
    assert(alerts3(1).transition == "still-failing")
  }

  test("ST5 property: no two alerts for a job within its error_timeout (200 seeded cases)") {
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val timeout = 1 + rnd.nextInt(90)
      val evs = (0 until 50).map { i =>
        RunEvent(1L, new Timestamp(1700000000000L + i * 60000L * (1 + rnd.nextInt(3))),
          rnd.nextBoolean(), timeout)
      }
      val (alerts, _) = AlertThrottle.replay(evs, Map.empty)
      alerts.sliding(2).foreach {
        case Seq(a, b) =>
          assert(b.at.getTime - a.at.getTime >= timeout * 60000L,
            s"alerts ${a.at} and ${b.at} within $timeout min")
        case _ =>
      }
    }
  }

  test("error run (no matching series) is still persisted to job_data") {
    val tmp = Files.createTempDirectory("graft-err").toString
    Runner.runOnce(spark, store, spec("mean > 0", targets = Seq("nosuch.metric")),
      Timestamp.valueOf("2024-01-15 12:00:00"), s"$tmp/job_data", s"$tmp/job_errors")
    val runs = spark.read.parquet(s"$tmp/job_data").collect()
    assert(runs.length == 1 && runs(0).getAs[String]("status") == JobStatus.Error)
    assert(runs(0).isNullAt(runs(0).fieldIndex("window_end")))
  }

  test("overlapping targets stay independent series lists (no double-count)") {
    val m = spec("sum > 0", targets = Seq("events.click", "events.{click,view}"))
    val v = Runner.evaluate(spark, store, m, Timestamp.valueOf("2024-01-15 12:00:00"))
    // events.click appears once per target = two verdict rows, each with
    // the UNdoubled per-target sum
    val clicks = v.filter(_.metric == "events.click")
    assert(clicks.size == 2)
    assert(clicks.map(_.observed.get).distinct.size == 1, "same window, same sum per target")
    val solo = Runner.evaluate(spark, store,
      spec("sum > 0", targets = Seq("events.click")), Timestamp.valueOf("2024-01-15 12:00:00"))
    assert(clicks.head.observed == solo.head.observed, "union must not double the sum")
  }

  test("reduction-free monitor expression is rejected with a named error") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val at = Timestamp.valueOf("2024-01-15 12:00:00")
    val stream = MemoryStream[(String, Timestamp, Double)].toDF().toDF("metric", "ts", "value")
    // every monitor path compiles through MonitorDsl.compileMonitor; a
    // mixed cohort must not hide the bad spec behind its neighbours
    val paths: Seq[(String, () => Any)] = Seq(
      "evaluate" -> (() => Runner.evaluate(spark, store, spec("1 < 2"), at)),
      "backtest" -> (() => Backtest.sweep(MetricSource.ofFrame(store), spec("1 < 2"),
        Timestamp.valueOf("2024-01-15 00:00:00"), at, 60)),
      "verdictStream" -> (() => StreamingRunner.verdictStream(stream, spec("1 < 2"), "5 minutes")),
      "multiplexed" -> (() => StreamingRunner.multiplexedVerdictStream(stream,
        Seq(spec("mean > 0"), spec("1 < 2").copy(id = 2)), "5 minutes")))
    paths.foreach { case (name, run) =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("references no reduction"), s"$name: ${e.getMessage}")
    }
  }

  test("ST5 replay labels a post-recovery alert 'enter-failure' across carried state") {
    import AlertThrottle.ThrottleState
    def ev(min: Int, failed: Boolean) =
      RunEvent(5L, Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00"), failed, 30)
    // batch 1: fail (alert) then recover
    val (a1, st1) = AlertThrottle.replay(Seq(ev(0, true), ev(10, false)), Map.empty)
    assert(a1.map(_.transition) == Seq("enter-failure"))
    assert(st1(5L).status == graft.model.JobStatus.Success)
    // batch 2 (restart from persisted state): fresh failure after timeout
    val (a2, _) = AlertThrottle.replay(Seq(ev(40, true)), st1)
    assert(a2.map(_.transition) == Seq("enter-failure"),
      "recovered job failing again is a fresh entry, not 'still-failing'")
  }

  test("ST5 property: two-batch replay with carried state == one replay (200 seeded cases)") {
    // the cross-batch contract of every monitor path: the scheduler and
    // the streaming runner replay each tick or micro-batch over the
    // state the previous one saved
    val rnd = new scala.util.Random(11)
    def key(a: AlertThrottle.Alert) = (a.at.getTime, a.jobId, a.transition)
    (1 to 200).foreach { c =>
      val jobs = 1 + rnd.nextInt(4)
      var t = 1700000000000L
      val evs = (0 until 40).map { _ =>
        t += 60000L * rnd.nextInt(4) // equal timestamps included
        RunEvent(1L + rnd.nextInt(jobs), new Timestamp(t), rnd.nextInt(3) > 0,
          1 + rnd.nextInt(30))
      }
      // carried state: job 1 alerted ten minutes before the first event,
      // and a job with no events in this sequence
      val init = if (rnd.nextBoolean()) Map.empty[Long, AlertThrottle.ThrottleState]
        else Map(
          1L -> AlertThrottle.ThrottleState(JobStatus.Failed, 1700000000000L - 600000L),
          99L -> AlertThrottle.ThrottleState(AlertThrottle.FailedUnalerted, Long.MinValue))
      val split = rnd.nextInt(evs.length + 1)
      val (whole, wholeSt) = AlertThrottle.replay(evs, init)
      val (first, mid) = AlertThrottle.replay(evs.take(split), init)
      val (second, endSt) = AlertThrottle.replay(evs.drop(split), mid)
      assert((first ++ second).map(key).sorted == whole.map(key).sorted,
        s"case $c, split $split: alerts differ")
      assert(endSt == wholeSt, s"case $c, split $split: final state differs")
    }
  }
}
