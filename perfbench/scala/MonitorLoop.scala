package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

import graft.engine.{Planner, Runner, Scheduler}
import graft.model.{JobStatus, MonitorSpec, Verdict}
import graft.state.{AlertSinks, AlertThrottle}
import graft.store.MetricSource
import graft.streaming.Ingest

/** `monitor_loop`: the scheduled write path. Set-up builds the rollup
  * store with `Ingest.runAvailableNow`; the loop then closes on a
  * virtual clock (tick, awaitIdle, advance one minute) through
  * `Scheduler.forSourceWithAlerts`, and a benchmark-owned transport
  * timestamps every page. */
object MonitorLoop {

  final case class Page(jobId: Long, transition: String, tick: Instant, atNs: Long)
  final case class Run(jobId: Long, tick: Instant, status: String)
  /** One tick that fired runs; `scanNs` is its first `scan()` call. */
  final case class Tick(at: Instant, startNs: Long, endNs: Long, fired: Seq[Long],
      spanId: Long, scanNs: Option[Long])

  private val PageRe = """\[graft\] m(\d+) (enter-failure|still-failing)""".r.unanchored
  private val JobDataWrite = """job_data/job_id=(\d+)""".r.unanchored

  def run(a: Args, res: Result): Unit = {
    val loop = Inputs.loop(s"${a.in}/loop.json")
    val byId = loop.specs.map(s => s.id -> s).toMap
    val spark = Session.create(a.out)
    Jvm.mark("session")
    val events = s"${a.in}/data"

    // set-up, made three times so setup_s is a median: ingest the events
    // into a fresh rollup store, build the scheduler over it and register
    // the population. The last one runs the loop.
    val tracer = new Tracer
    @volatile var tracing = false
    @volatile var current: (Instant, Long) = (Instant.EPOCH, 0L)
    val scanAt = new ConcurrentLinkedQueue[Long]()
    val pages = new ConcurrentLinkedQueue[Page]()
    val transport: String => Unit = payload => {
      val t = System.nanoTime()
      pages.add(payload match {
        case PageRe(id, transition) => Page(id.toLong, transition, current._1, t)
        case _ => Page(-1, payload.take(80), current._1, t)
      })
      if (tracing) tracer.add("state.deliver", t, System.nanoTime(), current._2, current._2)
    }
    val dir = a.out
    val (jobData, jobErrors, statePath, deliveryPath) =
      (s"$dir/job_data", s"$dir/job_errors", s"$dir/alert_state", s"$dir/deliveries")
    def setUp(k: Int): (MetricSource, Scheduler, Double, Double) = {
      val t0 = System.nanoTime()
      Ingest.runAvailableNow(spark, events, s"$dir/store$k", s"$dir/checkpoint$k")
      val ingestS = (System.nanoTime() - t0) / 1e9
      val base = MetricSource.rollup(spark, s"$dir/store$k")
      val source: MetricSource = (from, until) => {
        val t0 = System.nanoTime()
        val df = base.scan(from, until)
        scanAt.add(t0)
        if (tracing) tracer.add("store.scan", t0, System.nanoTime(), current._2, current._2)
        df
      }
      val sched = Scheduler.forSourceWithAlerts(spark, source, jobData, jobErrors,
        statePath, deliveryPath, AlertSinks.default(transport), parallelism = 4)
      loop.specs.foreach(sched.register(_, loop.start.minusSeconds(60)))
      (base, sched, ingestS, (System.nanoTime() - t0) / 1e9)
    }
    val setups = (1 to 3).map { k =>
      val s = setUp(k)
      if (k < 3) s._2.shutdown()
      s
    }
    val (base, sched, _, _) = setups.last
    res.metric("setup_s", Stats.median(setups.map(_._4)), "s", setups.size)
    res.details("setup_s_each") = setups.map(_._4).mkString("[", ",", "]")
    val ingestS = Stats.median(setups.map(_._3))
    Jvm.mark("setup")

    val runs = Seq.newBuilder[Run]
    var now = loop.start
    def tickOnce(): Option[Tick] = {
      val spanId = tracer.nextId()
      current = (now, spanId)
      val scansBefore = scanAt.size
      val t0 = System.nanoTime()
      val (fired, _) = sched.tick(now)
      sched.awaitIdle()
      val t1 = System.nanoTime()
      val at = now
      now = now.plusSeconds(60)
      if (fired.isEmpty) None
      else {
        if (tracing) tracer.add("engine.tick", t0, t1, 0, spanId, spanId)
        val status = sched.snapshot.map(s => s.jobId -> s.lastStatus).toMap
        fired.foreach(id => runs += Run(id, at, status(id)))
        Some(Tick(at, t0, t1, fired, spanId, scanAt.asScala.drop(scansBefore).headOption))
      }
    }
    /** Whole five-minute cycles (the single-monitor ticks, then a cohort
      * tick), at least two and until `seconds` have passed, so every
      * phase holds the same mix of ticks however fast the machine is. */
    def phase(seconds: Double): (Seq[Tick], Seq[Page], Double) = {
      val pagesBefore = pages.size
      val ticks = Seq.newBuilder[Tick]
      val t0 = System.nanoTime()
      var cycles = 0
      do { (1 to 5).foreach(_ => ticks ++= tickOnce()); cycles += 1 }
      while (cycles < 2 || (System.nanoTime() - t0) / 1e9 < seconds)
      (ticks.result(), pages.asScala.drop(pagesBefore).toSeq, (System.nanoTime() - t0) / 1e9)
    }
    def latencies(ticks: Seq[Tick], ps: Seq[Page]): Seq[Double] = {
      val startOf = ticks.map(t => t.at -> t.startNs).toMap
      ps.flatMap(p => startOf.get(p.tick).map(s => (p.atNs - s) / 1e6))
    }

    try {
      // warm-up: the first cohort tick
      val (_, warmMs) = Stats.timeMs(tickOnce())
      res.details("warmup_s") = (warmMs / 1000).toString
      Jvm.mark("warmup")

      val (ticks, ps, wall) = phase(a.seconds)
      val lat = latencies(ticks, ps)
      val nRuns = ticks.map(_.fired.size).sum
      res.details("tick_ms") = ticks.map(t => f"${(t.endNs - t.startNs) / 1e6}%.0f")
        .mkString("[", ",", "]")
      res.metric("alert_p50_ms", Stats.median(lat), "ms", lat.size)
      res.metric("alert_p90_ms", Stats.percentile(lat, 90), "ms", lat.size)
      res.metric("monitor_runs_per_s", nRuns / wall, "1/s", nRuns)
      Jvm.mark("measured")
      res.metric("live_memory_mb", Jvm.liveMemoryMb(), "MB")

      if (a.trace) {
        val probe = new SparkProbe(spark).install()
        probe.drain()
        val before = probe.counters
        val gc0 = Jvm.gcMs
        val wall0Ms = System.currentTimeMillis()
        val nano0 = System.nanoTime()
        tracing = true
        val scansBefore = scanAt.size
        val (tt, tps, twall) = phase(a.seconds)
        tracing = false
        probe.uninstall()
        val (gcMs, scans) = (Jvm.gcMs - gc0, scanAt.size - scansBefore)
        val (ut, ups, uwall) = phase(a.seconds)
        val tRuns = tt.map(_.fired.size).sum
        val tlat = latencies(tt, tps)
        res.layer(probe.perOp(before, probe.counters, tRuns))
        res.metric("jvm.driver_gc_ms", gcMs.toDouble, "ms")
        res.metric("store.scan_calls_per_op", scans.toDouble / tRuns, "count")
        val tickSet = tt.map(_.at).toSet
        val failing = runs.result().count(r => tickSet(r.tick) && r.status != JobStatus.Success)
        res.metric("state.pages_per_failing_run", tps.size.toDouble / math.max(failing, 1),
          "count", failing)
        traceMetrics(res, probe, tracer, tt, tps, tRuns, statePath, deliveryPath, wall0Ms, nano0)
        Overhead.report(res, (Stats.median(lat) + Stats.median(latencies(ut, ups))) / 2,
          Stats.median(tlat), (nRuns / wall + ut.map(_.fired.size).sum / uwall) / 2, tRuns / twall)
        layerProbes(res, spark, base, loop.specs, loop.start)
        res.metric("streaming.ingest_s", ingestS, "s", setups.size)
        val eventRows = spark.read.parquet(s"$events/events.parquet").count()
        res.metric("streaming.ingest_rows_per_s", eventRows / ingestS, "1/s")
        tracer.write(s"${a.out}/spans.jsonl")
      }
    } finally sched.shutdown()

    check(res, spark, base, runs.result(), pages.asScala.toSeq, byId, jobData, jobErrors)
    Jvm.mark("checked")
  }

  private def traceMetrics(res: Result, probe: SparkProbe, tracer: Tracer, ticks: Seq[Tick],
      pages: Seq[Page], nRuns: Int, statePath: String, deliveryPath: String,
      wall0Ms: Long, nano0: Long): Unit = {
    def toNs(ms: Long) = nano0 + (ms - wall0Ms) * 1000000L
    // listener times have millisecond resolution: allow 2 ms of slack
    def tickOf(ns: Long) = ticks.find(t => ns >= t.startNs - 2000000L && ns <= t.endNs + 2000000L)
    val execs = probe.sqlExecs.asScala.toSeq.filter(_.startMs >= wall0Ms).map { x =>
      val kind =
        if (x.plan.contains("job_data") || x.plan.contains("job_errors")) "engine.persist"
        else if (x.plan.contains(statePath)) "state.throttle_io"
        else if (x.plan.contains(deliveryPath)) "state.delivery"
        else "spark.exec"
      val (s, e) = (toNs(x.startMs), toNs(x.endMs))
      val tick = tickOf(s)
      val parent = tick.map(_.spanId).getOrElse(0L)
      tracer.add(kind, s, e, parent, parent)
      (kind, x.plan, s, e, tick)
    }
    // a run lasts from its tick's scan() call to its job_data commit
    val runAndWait = execs.collect {
      case ("engine.persist", JobDataWrite(_), _, e, Some(t)) if t.scanNs.isDefined =>
        ((e - t.scanNs.get) / 1e6, (t.scanNs.get - t.startNs) / 1e6)
    }
    val run = runAndWait.map(_._1)
    res.metric("engine.run_p50_ms", Stats.median(run), "ms", run.size)
    res.metric("engine.run_p95_ms", Stats.percentile(run, 95), "ms", run.size)
    res.metric("engine.run_wait_p50_ms", Stats.median(runAndWait.map(_._2)), "ms", run.size)
    val cohort = ticks.filter(_.fired.size > 1).map(t => (t.endNs - t.startNs) / 1e6)
    val single = ticks.filter(_.fired.size == 1).map(t => (t.endNs - t.startNs) / 1e6)
    res.metric("engine.cohort_tick_ms", Stats.median(cohort), "ms", cohort.size)
    res.metric("engine.single_tick_ms", Stats.median(single), "ms", single.size)
    def sumMs(kind: String) = execs.filter(_._1 == kind).map(c => (c._4 - c._3) / 1e6).sum
    res.metric("engine.persist_ms", sumMs("engine.persist") / nRuns, "ms", nRuns)
    val scans = ticks.count(_.scanNs.isDefined)
    res.metric("engine.runs_per_scan", nRuns.toDouble / math.max(scans, 1), "count", scans)
    res.metric("state.throttle_io_ms", sumMs("state.throttle_io") / ticks.size, "ms", ticks.size)
    val pageTicks = pages.map(_.tick).distinct.size
    val deliverMs = tracer.spans.asScala.filter(_.name == "state.deliver")
      .map(s => (s.end - s.start) / 1e6).sum
    res.metric("state.delivery_ms",
      (sumMs("state.delivery") + deliverMs) / math.max(pageTicks, 1), "ms", pageTicks)
    SelfTime.report(res, tracer, "engine.tick", nRuns)
  }

  /** Time the public functions of the dsl and engine layers on the
    * population's own targets and expressions. */
  private def layerProbes(res: Result, spark: SparkSession, base: MetricSource,
      specs: Seq[MonitorSpec], start: Instant): Unit = {
    val targets = specs.flatMap(_.targets).distinct
    val exprs = specs.map(_.monitorExpr).distinct
    res.metric("dsl.target_parse_us", Probes.parseUs(targets), "us", targets.size)
    res.metric("dsl.monitor_compile_us", Probes.compileUs(exprs), "us", exprs.size)
    val now = Timestamp.from(start)
    val ms = specs.map(sp => Stats.timeMs(Planner.planWithPoints(spark, base, sp, now))._2)
    res.metric("engine.plan_build_ms", Stats.median(ms), "ms", ms.size)
  }

  /** Every run must match a standalone `Runner.evaluate` of the same
    * spec at the same fire time: its status, its `job_data` row (window
    * end, status, the chart's series) and its `job_errors` rows (one per
    * failing verdict). Every monitor expression uses `count`, the first
    * reduction by name, so a verdict's observed value is its series'
    * number of non-null values, and the chart must hold that many per
    * series. The pages must equal `AlertThrottle.replay` over the
    * statuses; `job_data` must hold one row per run. Each mismatch is one
    * failed operation. */
  private def check(res: Result, spark: SparkSession, base: MetricSource, runs: Seq[Run],
      pages: Seq[Page], byId: Map[Long, MonitorSpec], jobData: String,
      jobErrors: String): Unit = {
    // standalone evaluations, four at a time: each is one monitor through
    // Runner.evaluate alone, the reference for the scheduler's batch path
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val serial: Seq[Seq[Verdict]] = try runs.map { r =>
      pool.submit(() =>
        try Runner.evaluate(spark, base, byId(r.jobId), Timestamp.from(r.tick))
        catch { case NonFatal(_) => Seq.empty[Verdict] })
    }.map(_.get) finally pool.shutdown()
    // the planted wrong values: the first run's status, and the observed
    // count of the first run that has a series
    val plantedData = if (Main.plant) serial.indexWhere(_.nonEmpty) else -1
    runs.zip(serial).zipWithIndex.foreach { case ((r, vs), i) =>
      val status = Runner.jobStatus(vs)
      val expected = if (Main.plant && i == 0) status + "-planted" else status
      if (expected != r.status)
        res.mismatch(s"m${r.jobId} at ${r.tick}: loop status ${r.status}, serial $expected")
    }

    def jobId(row: Row) = row.getAs[Number]("job_id").longValue
    def at(t: Timestamp) = Option(t).map(_.toInstant)
    val wantData = runs.zip(serial).zipWithIndex.map { case ((r, vs), i) =>
      val counts = vs.groupBy(_.metric).toSeq.sortBy(_._1).map { case (m, v) =>
        s"$m:${v.flatMap(_.observed).sum.toLong + (if (i == plantedData) 1 else 0)}"
      }
      s"m${r.jobId} window_end ${vs.headOption.map(_.windowEnd.toInstant)} " +
        s"${Runner.jobStatus(vs)} ${counts.mkString("[", ",", "]")}" +
        (if (i == plantedData) " (planted)" else "")
    }
    val dataRows = spark.read.parquet(jobData).collect().toSeq
    val gotData = dataRows.map { row =>
      val counts = Inputs.parse(row.getAs[String]("data")).elements().asScala.map { s =>
        s.get("metric").asText -> s.get("points").elements().asScala
          .count(p => p.hasNonNull("value"))
      }.toSeq.groupBy(_._1).toSeq.sortBy(_._1).map { case (m, c) => s"$m:${c.map(_._2).sum}" }
      s"m${jobId(row)} window_end ${at(row.getAs[Timestamp]("window_end"))} " +
        s"${row.getAs[String]("status")} ${counts.mkString("[", ",", "]")}"
    }
    Multiset.diff(wantData, gotData).foreach(d => res.mismatch(s"job_data $d"))
    if (dataRows.size != runs.size)
      res.mismatch(s"job_data holds ${dataRows.size} rows for ${runs.size} runs")

    val wantErrors = serial.flatMap { vs =>
      vs.filterNot(_.passed).map(v =>
        s"m${v.jobId} at ${v.windowEnd.toInstant} ${Runner.jobStatus(vs)} ${v.message}")
    }
    val gotErrors =
      if (!Files.exists(Paths.get(jobErrors))) Nil
      else spark.read.parquet(jobErrors).collect().toSeq.map { row =>
        s"m${jobId(row)} at ${at(row.getAs[Timestamp]("at")).orNull} " +
          s"${row.getAs[String]("status")} ${row.getAs[String]("message")}"
      }
    Multiset.diff(wantErrors, gotErrors).foreach(d => res.mismatch(s"job_errors $d"))

    val statuses = runs.zip(serial).map { case (r, vs) => r -> Runner.jobStatus(vs) }
    val (alerts, _) = AlertThrottle.replay(statuses.map { case (r, status) =>
      AlertThrottle.RunEvent(r.jobId, Timestamp.from(r.tick), status != JobStatus.Success,
        byId(r.jobId).errorTimeoutMinutes)
    }, Map.empty)
    val expected = alerts.flatMap(al => byId(al.jobId).alertKeys.map(_ =>
      (al.jobId, al.at.toInstant, al.transition)))
    val actual = pages.map(p => (p.jobId, p.tick, p.transition))
    Multiset.diff(expected, actual).foreach(d => res.mismatch(s"page $d"))
    res.attempted = 2L * runs.size + wantErrors.size + expected.size + 1
    res.details("runs_checked") = runs.size.toString
    res.details("job_errors_checked") = wantErrors.size.toString
    res.details("pages_checked") = expected.size.toString
  }
}
