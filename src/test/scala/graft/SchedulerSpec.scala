package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.engine.Scheduler
import graft.model.{JobStatus, MonitorSpec}

/** ST1 stage 1: the scheduler loop — due-scan ordering, next_run
  * advancement, overlap suppression, FAIR pool labelling, restart
  * resume. Virtual time throughout (tick(now)) so nothing sleeps. */
class SchedulerSpec extends SparkTestBase {

  private def spec(id: Long, cron: String, active: Boolean = true) = MonitorSpec(
    id = id, name = s"job$id", targets = Seq("events.*"), minutes = 60,
    toDate = None, cronExpr = cron, monitorExpr = "count >= 0", active = active)

  private def t(s: String): Instant = Timestamp.valueOf(s).toInstant

  test("interleaved cron exprs fire in order and next_run advances") {
    val runs = new ConcurrentLinkedQueue[(Long, Timestamp)]()
    // parallelism 1 ⇒ the pool executes in dispatch (id) order
    val sch = new Scheduler((sp, at) => { runs.add((sp.id, at)); JobStatus.Success },
      parallelism = 1)
    val boot = t("2024-01-15 12:00:00")
    sch.register(spec(1, "*/5 * * * *"), boot)  // :05 :10 :15 ...
    sch.register(spec(2, "*/10 * * * *"), boot) // :10 :20 ...
    sch.register(spec(3, "0 * * * *"), boot)    // 13:00
    // beat once per 5 minutes for an hour of virtual time
    (1 to 12).foreach { i => sch.tick(boot.plusSeconds(i * 300L)); sch.awaitIdle() }
    val got = runs.asScala.toSeq
    val expect = Seq(
      ("2024-01-15 12:05:00", 1L), ("2024-01-15 12:10:00", 1L), ("2024-01-15 12:10:00", 2L),
      ("2024-01-15 12:15:00", 1L), ("2024-01-15 12:20:00", 1L), ("2024-01-15 12:20:00", 2L),
      ("2024-01-15 12:25:00", 1L), ("2024-01-15 12:30:00", 1L), ("2024-01-15 12:30:00", 2L),
      ("2024-01-15 12:35:00", 1L), ("2024-01-15 12:40:00", 1L), ("2024-01-15 12:40:00", 2L),
      ("2024-01-15 12:45:00", 1L), ("2024-01-15 12:50:00", 1L), ("2024-01-15 12:50:00", 2L),
      ("2024-01-15 12:55:00", 1L), ("2024-01-15 13:00:00", 1L), ("2024-01-15 13:00:00", 2L),
      ("2024-01-15 13:00:00", 3L)
    ).map { case (ts, id) => (id, Timestamp.valueOf(ts)) }
    assert(got == expect)
    // next_run advanced strictly past the last tick for every job
    val last = t("2024-01-15 13:00:00")
    sch.snapshot.foreach(s => assert(s.nextRun.exists(_.isAfter(last))))
    sch.shutdown()
  }

  test("a due firing during a still-running run is skipped, not queued") {
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val runs = new ConcurrentLinkedQueue[Timestamp]()
    val sch = new Scheduler((_, at) => {
      runs.add(at); started.countDown()
      release.await(30, TimeUnit.SECONDS); JobStatus.Success
    }, parallelism = 2)
    val boot = t("2024-01-15 12:00:00")
    sch.register(spec(1, "* * * * *"), boot)
    sch.tick(t("2024-01-15 12:01:00"))
    assert(started.await(30, TimeUnit.SECONDS))
    // two beats while the first run is blocked → both skipped
    val (f2, s2) = sch.tick(t("2024-01-15 12:02:00"))
    val (f3, s3) = sch.tick(t("2024-01-15 12:03:00"))
    assert(f2.isEmpty && s2 == Seq(1L) && f3.isEmpty && s3 == Seq(1L))
    release.countDown()
    sch.awaitIdle()
    // schedule did not freeze: the next beat fires normally
    val (f4, s4) = sch.tick(t("2024-01-15 12:04:00"))
    sch.awaitIdle()
    assert(f4 == Seq(1L) && s4.isEmpty)
    assert(runs.asScala.toSeq == Seq(
      Timestamp.valueOf("2024-01-15 12:01:00"), Timestamp.valueOf("2024-01-15 12:04:00")))
    val snap = sch.snapshot.head
    assert(snap.fired == 2 && snap.skipped == 2)
    sch.shutdown()
  }

  test("inactive jobs never fire; a crashing run records error status") {
    val sch = new Scheduler((sp, _) =>
      if (sp.id == 2) throw new RuntimeException("boom") else JobStatus.Success)
    val boot = t("2024-01-15 12:00:00")
    sch.register(spec(1, "* * * * *", active = false), boot)
    sch.register(spec(2, "* * * * *"), boot)
    val (fired, _) = sch.tick(t("2024-01-15 12:01:00"))
    sch.awaitIdle()
    assert(fired == Seq(2L))
    val snaps = sch.snapshot
    assert(snaps.find(_.jobId == 1).get.fired == 0)
    assert(snaps.find(_.jobId == 2).get.lastStatus == JobStatus.Error)
    sch.shutdown()
  }

  test("runs execute under the named FAIR scheduler pool") {
    val pools = new ConcurrentLinkedQueue[String]()
    val sch = new Scheduler((_, _) => {
      pools.add(spark.sparkContext.getLocalProperty("spark.scheduler.pool"))
      JobStatus.Success
    }, parallelism = 2, spark = Some(spark))
    sch.register(spec(1, "* * * * *"), t("2024-01-15 12:00:00"))
    sch.tick(t("2024-01-15 12:01:00"))
    sch.awaitIdle()
    assert(pools.asScala.toSeq == Seq("monitors"))
    sch.shutdown()
  }

  test("save/load state: a restarted scheduler resumes the persisted next_run") {
    val tmp = Files.createTempDirectory("graft-sched").toString
    val boot = t("2024-01-15 12:00:00")
    val sch1 = new Scheduler((_, _) => JobStatus.Success)
    sch1.register(spec(1, "0 0 * * *"), boot) // next: Jan 16 00:00
    sch1.saveState(spark, s"$tmp/state")
    sch1.shutdown()
    // restart much later: naive re-register would schedule Jan 17;
    // loadState restores the due Jan-16 firing
    val reboot = t("2024-01-16 06:00:00")
    val fired = new ConcurrentLinkedQueue[Long]()
    val sch2 = new Scheduler((sp, _) => { fired.add(sp.id); JobStatus.Success })
    sch2.register(spec(1, "0 0 * * *"), reboot)
    sch2.loadState(spark, s"$tmp/state")
    assert(sch2.snapshot.head.nextRun.contains(t("2024-01-16 00:00:00")))
    sch2.tick(reboot)
    sch2.awaitIdle()
    assert(fired.asScala.toSeq == Seq(1L))
    sch2.shutdown()
  }

  test("loading a never-saved state path keeps the schedule registration computed") {
    val tmp = Files.createTempDirectory("graft-sched-nostate").toString
    val sch = new Scheduler((_, _) => JobStatus.Success)
    sch.register(spec(1, "0 0 * * *"), t("2024-01-15 12:00:00"))
    sch.loadState(spark, s"$tmp/never_saved")
    assert(sch.snapshot.head.nextRun.contains(t("2024-01-16 00:00:00")))
    sch.shutdown()
  }

  test("four monitors run concurrently through one session without interference") {
    val tmp = Files.createTempDirectory("graft-sched-conc").toString
    val source = graft.store.MetricSource.events(spark, "/root/testdata/sf0.001")
    val sch = Scheduler.forSource(spark, source, s"$tmp/job_data", s"$tmp/job_errors",
      parallelism = 4)
    val boot = t("2024-01-15 11:59:00")
    (1L to 4L).foreach { id =>
      sch.register(MonitorSpec(id = id, name = s"conc$id", targets = Seq("events.*"),
        minutes = 360, toDate = None, cronExpr = "* * * * *",
        monitorExpr = if (id % 2 == 0) "mean > 0" else "count > 0"), boot)
    }
    val (fired, skipped) = sch.tick(t("2024-01-15 12:00:00"))
    sch.awaitIdle()
    assert(fired == Seq(1L, 2L, 3L, 4L) && skipped.isEmpty)
    assert(sch.snapshot.forall(_.lastStatus == JobStatus.Success))
    // each job persisted exactly one run under its own partition
    val runs = spark.read.parquet(s"$tmp/job_data")
      .groupBy("job_id").count().collect()
      .map(r => r.getAs[Number]("job_id").longValue -> r.getLong(1)).toMap
    assert(runs == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    sch.shutdown()
  }

  test("full E1 loop: failing run alerts once through sinks, re-fire throttled") {
    val tmp = Files.createTempDirectory("graft-sched-alerts").toString
    val source = graft.store.MetricSource.events(spark, "/root/testdata/sf0.001")
    val sent = new ConcurrentLinkedQueue[String]()
    val sch = Scheduler.forSourceWithAlerts(spark, source,
      s"$tmp/job_data", s"$tmp/job_errors", s"$tmp/alert_state", s"$tmp/deliveries",
      sinks = graft.state.AlertSinks.default(sent.add(_)), parallelism = 2)
    val boot = t("2024-01-15 11:59:00")
    sch.register(MonitorSpec(id = 8, name = "failing", targets = Seq("events.*"),
      minutes = 720, toDate = None, cronExpr = "* * * * *",
      monitorExpr = "mean > 1000000", alertKeys = Seq("mailto:oncall@example.com"),
      errorTimeoutMinutes = 60), boot)
    sch.tick(t("2024-01-15 12:00:00")); sch.awaitIdle()
    // second failing run 1 minute later: inside error_timeout ⇒ throttled
    sch.tick(t("2024-01-15 12:01:00")); sch.awaitIdle()
    assert(sch.snapshot.head.fired == 2)
    assert(sch.snapshot.head.lastStatus == JobStatus.Failed)
    assert(sent.size == 1, s"expected one throttled delivery, got $sent")
    val d = spark.read.parquet(s"$tmp/deliveries").collect()
    assert(d.length == 1)
    assert(spark.read.parquet(s"$tmp/job_errors").count() > 0)
    sch.shutdown()
  }

  test("no sinks: a fired alert still goes out on the log channel and is recorded") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-sched-nosinks").toString
    val points = Seq(("m.a", Timestamp.valueOf("2024-01-15 11:30:00"), 1.0))
      .toDF("metric", "ts", "value")
    val sch = Scheduler.forSourceWithAlerts(spark, graft.store.MetricSource.ofFrame(points),
      s"$tmp/job_data", s"$tmp/job_errors", s"$tmp/alert_state", s"$tmp/deliveries",
      sinks = Nil, parallelism = 1)
    sch.register(MonitorSpec(id = 9, name = "nosinks", targets = Seq("m.a"),
      minutes = 720, toDate = None, cronExpr = "* * * * *",
      monitorExpr = "mean > 1000000", alertKeys = Seq("mailto:a@b")),
      t("2024-01-15 11:59:00"))
    sch.tick(t("2024-01-15 12:00:00")); sch.awaitIdle()
    val d = spark.read.parquet(s"$tmp/deliveries").collect()
    assert(d.map(r => (r.getAs[Long]("jobId"), r.getAs[String]("channel"),
      r.getAs[Boolean]("delivered"))).toSeq == Seq((9L, "log", true)), d.toSeq.toString)
    sch.shutdown()
  }

  test("throttle clock is shared: a streaming-path alert suppresses the scheduled path") {
    val tmp = Files.createTempDirectory("graft-shared-throttle").toString
    val statePath = s"$tmp/alert_state"
    // the streaming path already alerted this job 10 minutes ago
    graft.state.AlertThrottle.saveStateTable(spark, statePath, Map(
      8L -> graft.state.AlertThrottle.ThrottleState(JobStatus.Failed,
        Timestamp.valueOf("2024-01-15 11:50:00").getTime)))
    val sent = new ConcurrentLinkedQueue[String]()
    val sch = Scheduler.forSourceWithAlerts(spark,
      graft.store.MetricSource.events(spark, "/root/testdata/sf0.001"),
      s"$tmp/job_data", s"$tmp/job_errors", statePath, s"$tmp/deliveries",
      sinks = graft.state.AlertSinks.default(sent.add(_)))
    sch.register(MonitorSpec(id = 8, name = "shared", targets = Seq("events.*"),
      minutes = 720, toDate = None, cronExpr = "* * * * *",
      monitorExpr = "mean > 1000000", alertKeys = Seq("mailto:a@b"),
      errorTimeoutMinutes = 60), t("2024-01-15 11:59:00"))
    // scheduled run fails at 12:00 — inside the streaming alert's
    // error_timeout ⇒ no second alert from this path
    sch.tick(t("2024-01-15 12:00:00")); sch.awaitIdle()
    assert(sch.snapshot.head.lastStatus == JobStatus.Failed)
    assert(sent.isEmpty, s"shared throttle ignored: $sent")
    // and the state table still carries the streaming path's clock
    val st = graft.state.AlertThrottle.loadStateTable(spark, statePath)(8L)
    assert(st.lastAlertedAtMillis == Timestamp.valueOf("2024-01-15 11:50:00").getTime)
    sch.shutdown()
  }

  test("same-tick monitors share ONE store scan; batch verdicts equal the per-job path") {
    val tmp = Files.createTempDirectory("graft-sched-batch").toString
    val inner = graft.store.MetricSource.events(spark, "/root/testdata/sf0.001")
    val scans = new java.util.concurrent.atomic.AtomicInteger
    val counting: graft.store.MetricSource =
      (from, until) => { scans.incrementAndGet(); inner.scan(from, until) }
    val sch = Scheduler.forSource(spark, counting, s"$tmp/job_data", s"$tmp/job_errors",
      parallelism = 4)
    val boot = t("2024-01-15 11:59:00")
    // different window lengths on purpose: the batch scans the union
    // window once, each job clips its own slice from the cached frame
    val specs = (1L to 3L).map { id =>
      MonitorSpec(id = id, name = s"batch$id", targets = Seq("events.*"),
        minutes = (240 * id).toInt, toDate = None, cronExpr = "* * * * *",
        monitorExpr = if (id == 2) "mean > 0" else "count > 0")
    }
    specs.foreach(sch.register(_, boot))
    val (fired, skipped) = sch.tick(t("2024-01-15 12:00:00"))
    sch.awaitIdle()
    assert(fired == Seq(1L, 2L, 3L) && skipped.isEmpty)
    assert(scans.get == 1, s"expected one shared scan for the tick, got ${scans.get}")
    assert(sch.snapshot.forall(_.lastStatus == JobStatus.Success))
    // every job still persisted its own run
    val runs = spark.read.parquet(s"$tmp/job_data")
      .groupBy("job_id").count().collect()
      .map(r => r.getAs[Number]("job_id").longValue -> r.getLong(1)).toMap
    assert(runs == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // and batch results are exactly the per-job evaluate results
    val at = Timestamp.valueOf("2024-01-15 12:00:00")
    val batch = graft.engine.Runner.runBatch(spark, inner, specs, at, s"$tmp/jd2", s"$tmp/je2")
    specs.foreach { sp =>
      val solo = graft.engine.Runner.evaluate(spark, inner, sp, at)
      assert(batch(sp.id).get.toSet == solo.toSet, s"job ${sp.id} differs")
    }
    sch.shutdown()
  }

  private def cohortSpec(id: Long, expr: String, minutes: Int = 720,
      targets: Seq[String] = Seq("events.*")) = MonitorSpec(
    id = id, name = s"cohort$id", targets = targets, minutes = minutes, toDate = None,
    cronExpr = "*/5 * * * *", monitorExpr = expr, alertKeys = Seq("mailto:oncall@example.com"))

  test("a cohort run that throws is Error alone; its neighbours keep their statuses and pages") {
    val tmp = Files.createTempDirectory("graft-sched-badexpr").toString
    val sent = new ConcurrentLinkedQueue[String]()
    val sch = Scheduler.forSourceWithAlerts(spark,
      graft.store.MetricSource.events(spark, "/root/testdata/sf0.001"),
      s"$tmp/job_data", s"$tmp/job_errors", s"$tmp/alert_state", s"$tmp/deliveries",
      sinks = graft.state.AlertSinks.default(sent.add(_)), parallelism = 2)
    // job 1's expression is rejected when its run plans
    Seq(cohortSpec(1, "bogus < 1"), cohortSpec(2, "mean > 1000000"), cohortSpec(3, "count > 0"))
      .foreach(sch.register(_, t("2024-01-15 11:59:00")))
    val (fired, _) = sch.tick(t("2024-01-15 12:00:00")); sch.awaitIdle()
    assert(fired == Seq(1L, 2L, 3L))
    assert(sch.snapshot.map(s => s.jobId -> s.lastStatus).toMap ==
      Map(1L -> JobStatus.Error, 2L -> JobStatus.Failed, 3L -> JobStatus.Success))
    // the failing neighbour paged; the run that threw never reached the cycle
    val paged = spark.read.parquet(s"$tmp/deliveries").collect().map(_.getAs[Long]("jobId"))
    assert(paged.toSeq == Seq(2L) && sent.size == 1, sent.toString)
    assert(!graft.state.AlertThrottle.loadStateTable(spark, s"$tmp/alert_state").contains(1L))
    sch.shutdown()
  }

  test("every Spark job of a cohort tick runs under the named FAIR pool") {
    val tmp = Files.createTempDirectory("graft-sched-fair").toString
    val sc = spark.sparkContext
    // (description, pool) of every job start, in listener-bus order
    val starts = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        starts.add((props.map(_.getProperty("spark.job.description")).orNull,
          props.map(_.getProperty("spark.scheduler.pool")).orNull))
      }
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    val sch = Scheduler.forSource(spark,
      graft.store.MetricSource.events(spark, "/root/testdata/sf0.001"),
      s"$tmp/job_data", s"$tmp/job_errors", parallelism = 4)
    Seq(cohortSpec(1, "count > 0", 240), cohortSpec(2, "mean > 1000000", 480),
      cohortSpec(3, "mean > 0")).foreach(sch.register(_, t("2024-01-15 11:59:00")))
    sc.addSparkListener(listener)
    try {
      marker("before-tick")
      sch.tick(t("2024-01-15 12:00:00")); sch.awaitIdle()
      marker("after-tick")
      // the bus delivers in order: once the second marker is seen, so is
      // every job the tick submitted
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (!starts.asScala.exists(_._1 == "after-tick") && System.nanoTime() < deadline)
        Thread.sleep(20)
      val tick = starts.asScala.toSeq.dropWhile(_._1 != "before-tick").drop(1)
        .takeWhile(_._1 != "after-tick")
      // at least the cache fill, a collect per run and the group's
      // job_data write
      assert(tick.size >= 5, tick.toString)
      assert(tick.forall(_._2 == "monitors"), tick.toString)
    } finally sc.removeSparkListener(listener)
    sch.shutdown()
  }

  test("a cohort's verdicts and persisted rows do not depend on parallelism") {
    import org.apache.spark.sql.functions.col
    val source = graft.store.MetricSource.events(spark, "/root/testdata/sf0.001")
    val at = Timestamp.valueOf("2024-01-15 12:00:00")
    // passing, failing, no-series (Error, persisted) and bad-expression
    // (thrown) runs over different window lengths
    val specs = Seq(cohortSpec(1, "count > 0", 240), cohortSpec(2, "mean > 1000000", 480),
      cohortSpec(3, "mean > 0", targets = Seq("nosuch.metric")), cohortSpec(4, "bogus < 1"),
      cohortSpec(5, "count < 0", 360))
    def rows(path: String, cols: String*) =
      spark.read.parquet(path).select(cols.map(col): _*).collect().map(_.toSeq).toSeq
        .sortBy(_.mkString("|"))
    def runWith(parallelism: Int) = {
      val tmp = Files.createTempDirectory(s"graft-sched-par$parallelism").toString
      val results = graft.engine.Runner.runBatch(spark, source, specs, at,
        s"$tmp/job_data", s"$tmp/job_errors", parallelism)
      (results.map { case (id, r) => id -> r.toEither.map(_.toSet).left.map(_.getMessage) },
        rows(s"$tmp/job_data", "job_id", "window_end", "status", "data"),
        rows(s"$tmp/job_errors", "job_id", "at", "message", "status"))
    }
    val (serial, concurrent) = (runWith(1), runWith(4))
    assert(serial._1(4).isLeft && serial._1(3) == Right(Set.empty))
    assert(serial._2.size == 4 && serial._3.nonEmpty)
    assert(concurrent == serial)
  }

  test("production wiring: due job runs end-to-end through Runner.runOnce") {
    val tmp = Files.createTempDirectory("graft-sched-e2e").toString
    val source = graft.store.MetricSource.events(spark, "/root/testdata/sf0.001")
    val sch = Scheduler.forSource(spark, source, s"$tmp/job_data", s"$tmp/job_errors",
      parallelism = 2)
    val boot = t("2024-01-15 11:59:00")
    sch.register(MonitorSpec(id = 7, name = "e2e", targets = Seq("events.*"),
      minutes = 720, toDate = None, cronExpr = "*/5 * * * *",
      monitorExpr = "count > 0"), boot)
    sch.tick(t("2024-01-15 12:00:00"))
    sch.awaitIdle()
    assert(sch.snapshot.head.lastStatus == JobStatus.Success)
    val runs = spark.read.parquet(s"$tmp/job_data").collect()
    // job_id is a directory-partition column: inferred numeric on read
    assert(runs.length == 1 && runs(0).getAs[Number]("job_id").longValue == 7L)
    sch.shutdown()
  }
}
