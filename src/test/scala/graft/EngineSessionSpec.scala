package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions.{col, lit, to_json, to_timestamp}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.engine.{Planner, Runner, Scheduler}
import graft.engine.Runner.{ChartPoint, ChartSeries}
import graft.model.{JobStatus, MonitorSpec, Verdict}
import graft.state.AlertSinks
import graft.store.MetricSource

/** The scheduled path's engine session: interpreted evaluation that
  * matches the caller's codegen'd session byte for byte, compiles no
  * class on a repeat tick, and inherits the caller's runtime confs and
  * query-execution listeners. */
class EngineSessionSpec extends SparkTestBase {
  import spark.implicits._

  private val until = Timestamp.valueOf("2024-01-15 12:00:00")

  /** Four series over three hours, minutely with gaps; `srv.a.cpu`
    * carries nulls and `srv.b.cpu` a NaN. */
  private lazy val source: MetricSource = {
    val start = until.getTime - 180 * 60000L
    val rows = for {
      (m, k) <- Seq("srv.a.cpu", "srv.b.cpu", "srv.a.mem", "srv.b.mem").zipWithIndex
      i <- 0 until 180 if (i + k) % 7 != 3
    } yield {
      val v =
        if (m == "srv.a.cpu" && i % 11 == 5) None
        else if (m == "srv.b.cpu" && i == 42) Some(Double.NaN)
        else Some((i * (k + 3)) % 97 + k * 0.25)
      (m, new Timestamp(start + i * 60000L), v)
    }
    MetricSource.ofFrame(rows.toDF("metric", "ts", "value"))
  }

  /** Every TargetLang function, each arity form once. */
  private val forms = Seq(
    "srv.a.cpu", "srv.*.cpu", "sumSeries(srv.*.cpu)", "averageSeries(srv.*.mem)",
    "minSeries(srv.*.cpu)", "maxSeries(srv.*.mem)", "group(srv.a.cpu, srv.b.mem)",
    "groupByNode(srv.*.*, 1, \"sum\")", "sumSeriesWithWildcards(srv.*.cpu, 1)",
    "averageSeriesWithWildcards(srv.*.mem, 1)", "weightedAverage(srv.*.cpu, srv.*.mem, 1)",
    "linearRegression(srv.a.mem)", "summarize(srv.*.cpu, \"15min\")",
    "summarize(srv.*.mem, \"30min\", \"max\")", "hitcount(srv.*.cpu, \"10min\")",
    "movingAverage(srv.*.cpu, 5)", "movingAverage(srv.*.mem, \"10min\")",
    "movingSum(srv.*.cpu, 3)", "movingSum(srv.*.mem, \"5min\")", "movingMax(srv.*.cpu, 4)",
    "movingMax(srv.*.mem, \"15min\")", "movingMin(srv.*.cpu, 4)",
    "movingMin(srv.*.mem, \"15min\")", "movingMedian(srv.*.cpu, 5)",
    "movingMedian(srv.*.mem, \"10min\")", "exponentialMovingAverage(srv.*.cpu, 4)",
    "timeSlice(srv.*.mem, \"2024-01-15 10:00:00\", \"2024-01-15 11:00:00\")",
    "stdev(srv.*.cpu, 5)", "stdev(srv.*.mem, \"10min\")", "derivative(srv.*.cpu)",
    "nonNegativeDerivative(srv.*.cpu)", "nonNegativeDerivative(srv.*.mem, 100)",
    "delay(srv.*.cpu, 2)", "integralByInterval(srv.*.mem, \"1h\")", "perSecond(srv.*.cpu)",
    "integral(srv.*.cpu)", "keepLastValue(srv.*.cpu)", "transformNull(srv.*.cpu, -1)",
    "timeShift(srv.*.mem, \"30min\")", "timeShift(srv.*.cpu, \"+15min\")",
    "scale(srv.*.cpu, 2.5)", "offset(srv.*.cpu, -3)", "absolute(offset(srv.*.mem, -40))",
    "logarithm(srv.*.cpu)", "logarithm(srv.*.mem, 2)", "invert(srv.*.cpu)",
    "pow(srv.*.cpu, 2)", "squareRoot(srv.*.mem)", "changed(srv.*.cpu)",
    "isNonNull(srv.*.cpu)", "removeAboveValue(srv.*.cpu, 50)",
    "removeBelowValue(srv.*.cpu, 10)", "clip(srv.*.mem, 10, 50)",
    "alias(srv.a.cpu, \"cpu-a\")", "aliasByNode(srv.*.*, 1)", "aliasByMetric(srv.*.cpu)",
    "aliasSub(srv.*.cpu, \"srv\", \"host\")", "exclude(srv.*.*, \"mem\")",
    "grep(srv.*.*, \"cpu\")", "highestAverage(srv.*.*, 2)", "highestMax(srv.*.*, 2)",
    "highestSum(srv.*.*, 2)", "lowestAverage(srv.*.*, 2)", "lowestMax(srv.*.*, 2)",
    "highestCurrent(srv.*.*, 2)", "lowestCurrent(srv.*.*, 2)", "sortByTotal(srv.*.*, 2)",
    "sortByMaxima(srv.*.*, 2)", "sortByTotal(srv.*.*)", "sortByMaxima(srv.*.*)",
    "sortByMinima(srv.*.*)", "sortByName(srv.*.*)", "mostDeviant(srv.*.*, 2)",
    "limit(srv.*.*, 2)", "removeAbovePercentile(srv.*.cpu, 90)",
    "removeBelowPercentile(srv.*.mem, 10)", "averageAbove(srv.*.*, 30)",
    "averageBelow(srv.*.*, 30)", "maximumAbove(srv.*.*, 90)", "maximumBelow(srv.*.*, 90)",
    "minimumAbove(srv.*.*, 1)", "minimumBelow(srv.*.*, 1)", "currentAbove(srv.*.*, 20)",
    "currentBelow(srv.*.*, 20)", "averageOutsidePercentile(srv.*.*, 50)",
    "countSeries(srv.*.*)", "rangeOfSeries(srv.*.*)", "scaleToSeconds(srv.*.cpu, 1)",
    "divideSeries(srv.a.cpu, srv.b.cpu)", "diffSeries(srv.a.mem, srv.b.mem)",
    "multiplySeries(srv.a.cpu, srv.a.mem)", "asPercent(srv.a.cpu, srv.b.cpu)",
    "asPercent(srv.*.mem)", "offsetToZero(srv.*.cpu)",
    "holtWintersConfidenceBands(srv.a.mem, 3, 10)", "holtWintersAberration(srv.*.cpu, 3, 10)",
    "holtWintersForecast(srv.*.mem, 2, 10)", "percentileOfSeries(srv.*.*, 50)",
    "nPercentile(srv.*.cpu, 90)", "substr(srv.*.*, 1)", "substr(srv.*.*, 1, 2)",
    "removeEmptySeries(srv.*.cpu)", "cactiStyle(srv.*.mem)", "stddevSeries(srv.*.cpu)",
    "groupByNodes(srv.*.*, \"sum\", 1, 2)", "smartSummarize(srv.*.cpu, \"15min\")",
    "smartSummarize(srv.*.mem, \"20min\", \"avg\")",
    "useSeriesAbove(srv.*.cpu, 10, \"cpu\", \"mem\")", "constantLine(5)",
    "threshold(7, \"limit\")", "timeFunction(\"t\")", "time(\"t\")", "identity(\"t\")",
    "sinFunction(\"s\")", "sinFunction(\"s\", 2)", "randomWalkFunction(\"r\")",
    "randomWalk(\"r\")", "log(srv.*.cpu)", "log(srv.*.mem, 2)", "transformNull(srv.*.cpu)",
    "avg(srv.*.cpu)", "secondYAxis(srv.a.cpu)", "color(srv.a.cpu, \"red\")",
    "consolidateBy(srv.a.mem, \"max\")", "cumulative(srv.b.mem)")

  private def monitor(id: Long, targets: Seq[String], expr: String,
      cron: String = "*/5 * * * *", timeout: Int = 60) = MonitorSpec(
    id = id, name = s"m$id", targets = targets, minutes = 180, toDate = None,
    cronExpr = cron, monitorExpr = expr, alertKeys = Seq("mailto:oncall@example.com"),
    errorTimeoutMinutes = timeout)

  /** Verdicts in a canonical order, NaN-safe (NaN != NaN as a Double). */
  private def canon(vs: Seq[Verdict]) =
    vs.map(v => (v.metric, v.windowEnd, v.observed.map(_.toString), v.passed, v.message))
      .sortBy(_.toString)

  /** The job_data `data` bytes of a run, computed on the caller's
    * session (codegen'd), from a collect of the run's own plan. */
  private def chartJson(spec: MonitorSpec, now: Timestamp): String = {
    val rows = Planner.planWithPoints(spark, source, spec, now).collect().toSeq
    val chart = rows.map { r =>
      r.getString(r.fieldIndex("metric")) -> r.getSeq[Row](r.fieldIndex("points"))
        .map(p => ChartPoint(p.getTimestamp(0), p.get(1).asInstanceOf[java.lang.Double]))
    }.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (m, grps) => ChartSeries(m, grps.flatMap(_._2).sortBy(_.ts.getTime)) }
    Seq(Tuple1(chart)).toDF("chart").select(to_json(col("chart"))).head().getString(0)
  }

  private def compiles[T](body: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = body
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  private def t(s: String): Instant = Timestamp.valueOf(s).toInstant

  /** The shuffle exchanges a physical plan holds: inside adaptive
    * plans, subqueries and the plans of the cached relations it scans. */
  private object Exchanges extends AdaptiveSparkPlanHelper {
    def apply(plan: SparkPlan): Int = collectWithSubqueries(plan) {
      case _: ShuffleExchangeLike => 1
      case s: InMemoryTableScanExec => apply(s.relation.cachedPlan)
    }.sum
  }

  /** (action, ran in the caller's session, shuffle exchanges) of every
    * query `body` runs on `spark` or an engine session derived from it,
    * once `actions` of them arrived (listener delivery is async). */
  private def planned(actions: Int)(body: => Unit): Seq[(String, Boolean, Int)] = {
    val seen = new ConcurrentLinkedQueue[(String, Boolean, Int)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add((funcName, qe.sparkSession eq spark, Exchanges(qe.executedPlan)))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (seen.size < actions && System.nanoTime() < deadline) Thread.sleep(20)
      seen.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  test("the interpreted engine path equals the codegen path on every target form") {
    val expr = "count > 20 && (max > 5 || median < 50 || p90 > 1 || last > 0 || " +
      "first > 0 || min < 1 || stddev > 0)"
    val specs = forms.grouped(5).zipWithIndex.map { case (ts, i) => monitor(i + 1, ts, expr) }
      .toSeq
    val tmp = Files.createTempDirectory("graft-engine-parity").toString
    def jobData(root: String) = spark.read.parquet(s"$root/job_data").select("job_id", "data")
      .collect().map(r => r.getAs[Number]("job_id").longValue -> r.getString(1)).toMap
    // a cohort tick (the slice fill, a collect per run, the group write),
    // then each monitor as a per-job tick (a collect and a write each)
    var engine: Map[Long, scala.util.Try[Seq[Verdict]]] = Map.empty
    val cohortPlans = planned(specs.size + 2) {
      engine = Runner.runBatch(spark, source, specs, until, s"$tmp/job_data",
        s"$tmp/job_errors", parallelism = 2)
    }
    val single = s"$tmp/single"
    var perJob: Map[Long, Seq[Verdict]] = Map.empty
    val perJobPlans = planned(2 * specs.size) {
      perJob = specs.map(sp => sp.id -> Runner.runOnce(spark, source, sp, until,
        s"$single/job_data", s"$single/job_errors")).toMap
    }
    // every query of both ticks ran in the engine session without a
    // shuffle: each window is read as one partition
    Seq(cohortPlans, perJobPlans).foreach { plans =>
      assert(plans.count(_._1 == "collect") == specs.size, plans)
      assert(plans.forall(!_._2), plans)
      assert(plans.forall(_._3 == 0), plans.filter(_._3 > 0))
    }
    val (data, singleData) = (jobData(tmp), jobData(single))
    assert(data.size == specs.size && singleData == data)
    specs.foreach { sp =>
      val oracle = Runner.evaluate(spark, source, sp, until)
      assert(oracle.nonEmpty, s"${sp.targets} evaluates to no series")
      assert(canon(engine(sp.id).get) == canon(oracle), s"verdicts differ: ${sp.targets}")
      assert(canon(perJob(sp.id)) == canon(oracle), s"per-job verdicts differ: ${sp.targets}")
      assert(data(sp.id) == chartJson(sp, until), s"job_data differs: ${sp.targets}")
    }
    // the NaN and the nulls reached the persisted charts
    val all = data.values.mkString
    assert(all.contains("NaN"), "no NaN point was charted")
    assert(""""points":\[[^\]]*\{"ts":"[^"]*"\}""".r.findFirstIn(all).nonEmpty,
      "no null point was charted")
  }

  test("a repeat tick at a new now compiles no class on the engine path") {
    val events = MetricSource.events(spark, "/root/testdata/sf0.001")
    val tmp = Files.createTempDirectory("graft-engine-compiles").toString
    def paths(k: String) = (s"$tmp/$k/job_data", s"$tmp/$k/job_errors",
      s"$tmp/$k/alert_state", s"$tmp/$k/deliveries")
    val sent = new ConcurrentLinkedQueue[String]()
    def scheduler(k: String) = {
      val (jd, je, st, dl) = paths(k)
      Scheduler.forSourceWithAlerts(spark, events, jd, je, st, dl,
        AlertSinks.default(sent.add(_)), parallelism = 2)
    }
    // failing monitors with a one-minute throttle page on every tick, so
    // the measured cycle dispatches and writes delivery records too
    val cohort = Seq(
      monitor(1, Seq("summarize(events.*, \"15min\", \"sum\")"), "sum > 1000000000", timeout = 1),
      monitor(2, Seq("movingAverage(events.*, 5)"), "count > 0"),
      monitor(3, Seq("sumSeries(events.*)", "events.view"), "count < 0", timeout = 1))
    val single = monitor(4, Seq("derivative(events.*)"), "max < -1000000000", timeout = 1)
    val (batched, perJob) = (scheduler("batch"), scheduler("single"))
    cohort.foreach(batched.register(_, t("2024-01-15 11:59:00")))
    perJob.register(single, t("2024-01-15 11:59:00"))
    def tick(at: String): Unit = {
      batched.tick(t(at)); batched.awaitIdle()
      perJob.tick(t(at)); perJob.awaitIdle()
    }
    tick("2024-01-15 12:00:00") // warm: classes keyed on schemas only
    val (_, scheduled) = compiles(tick("2024-01-15 12:05:00"))
    val pages = sent.size
    assert(pages == 6, sent.toString) // 3 failing monitors paged on both ticks
    assert((batched.snapshot ++ perJob.snapshot).map(_.lastStatus) ==
      Seq(JobStatus.Failed, JobStatus.Success, JobStatus.Failed, JobStatus.Failed))
    val (jd, je, _, _) = paths("direct")
    Runner.runOnce(spark, events, single, Timestamp.valueOf("2024-01-15 12:05:00"), jd, je)
    val (_, direct) = compiles(
      Runner.runOnce(spark, events, single, Timestamp.valueOf("2024-01-15 12:10:00"), jd, je))
    val (_, evaluated) = compiles((cohort :+ single).foreach(sp =>
      Runner.evaluate(spark, events, sp, Timestamp.valueOf("2024-01-15 12:15:00"))))
    assert(scheduled == 0, s"the scheduled tick compiled $scheduled classes")
    assert(direct == 0, s"runOnce compiled $direct classes")
    assert(evaluated > 0, "the caller's session compiled nothing: the guard is vacuous")
    // the engine's settings never reach the caller's session
    assert(spark.conf.get("spark.sql.codegen.wholeStage") == "true")
    assert(!spark.conf.getOption("spark.sql.codegen.factoryMode").contains("NO_CODEGEN"))
    batched.shutdown(); perJob.shutdown()
  }

  test("a runtime time-zone change on the caller's session reaches the scheduled runs") {
    // timestamps stored as wall-clock strings: which rows a window holds
    // depends on the session time zone the scan is planned in
    val utc = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
    val wall = (0 until 24 * 60 by 5).map { i =>
      val at = Instant.ofEpochMilli(until.getTime - 12 * 3600000L + i * 60000L)
      ("srv.a.cpu", utc.format(at), i.toDouble)
    }.toDF("metric", "wall", "value")
    val zoned: MetricSource = (from, to) =>
      wall.select(col("metric"), to_timestamp(col("wall")).as("ts"), col("value"))
        .filter(col("ts") >= lit(from) && col("ts") <= lit(to))
    val tmp = Files.createTempDirectory("graft-engine-tz").toString
    val sch = Scheduler.forSourceWithAlerts(spark, zoned, s"$tmp/job_data",
      s"$tmp/job_errors", s"$tmp/alert_state", s"$tmp/deliveries",
      AlertSinks.default(_ => ()), parallelism = 2)
    // jobs 1 and 2 fire as a cohort at 12:00, job 3 alone at 12:01
    val specs = Seq(monitor(1, Seq("srv.a.cpu"), "mean > 800", "0 * * * *"),
      monitor(2, Seq("scale(srv.a.cpu, 2)"), "max > 1500", "0 * * * *"),
      monitor(3, Seq("srv.a.cpu"), "min > 600", "1 * * * *"))
    specs.foreach(sch.register(_, t("2024-01-15 11:59:00")))
    val fireAt = Map(1L -> until, 2L -> until, 3L -> Timestamp.valueOf("2024-01-15 12:01:00"))
    val zone = spark.conf.get("spark.sql.session.timeZone")
    def statuses() = specs.map(sp =>
      sp.id -> Runner.jobStatus(Runner.evaluate(spark, zoned, sp, fireAt(sp.id)))).toMap
    val inUtc = statuses()
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
      val inZone = statuses()
      assert(inZone != inUtc, s"the zone changes no verdict: $inZone")
      sch.tick(t("2024-01-15 12:00:00")); sch.awaitIdle()
      sch.tick(t("2024-01-15 12:01:00")); sch.awaitIdle()
      assert(sch.snapshot.map(s => s.jobId -> s.lastStatus).toMap == inZone)
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
    sch.shutdown()
  }

  test("a run over a window longer than InterpretedMaxMinutes runs codegen'd in the caller's session") {
    val tmp = Files.createTempDirectory("graft-engine-wide").toString
    val (jd, je) = (s"$tmp/job_data", s"$tmp/job_errors")
    val short = monitor(1, Seq("movingAverage(srv.*.cpu, 5)"), "count > 0")
    val wide = monitor(2, Seq("sumSeries(srv.*.mem)"), "mean > 0")
      .copy(minutes = Runner.InterpretedMaxMinutes + 60)
    val oracle = Seq(short, wide).map(sp => sp.id -> canon(Runner.evaluate(spark, source, sp, until)))
      .toMap
    /** (action, ran in the caller's session, planned a shuffle) of the
      * collects and fills `body` ran: a wide window keeps the caller's
      * multi-partition plan, with the exchange its reduction needs. */
    def actions(queries: Int)(body: => Unit): Seq[(String, Boolean, Boolean)] =
      planned(queries)(body).collect {
        case (f, caller, n) if f == "collect" || f == "foreachPartition" => (f, caller, n > 0)
      }.sortBy(_.toString)
    // each runOnce: a collect and a job_data write
    assert(actions(2)(assert(canon(Runner.runOnce(spark, source, wide, until, jd, je)) ==
      oracle(wide.id))) == Seq(("collect", true, true)))
    assert(actions(2)(assert(canon(Runner.runOnce(spark, source, short, until, jd, je)) ==
      oracle(short.id))) == Seq(("collect", false, false)))
    // a cohort: the union window is wide, so the slice is built in the
    // caller's session; each run still takes its own window's session
    var batch: Map[Long, scala.util.Try[Seq[Verdict]]] = Map.empty
    assert(actions(4) {
      batch = Runner.runBatch(spark, source, Seq(short, wide), until, jd, je, parallelism = 2)
    } == Seq(("collect", false, false), ("collect", true, true),
      ("foreachPartition", true, false)))
    assert(batch.map { case (id, vs) => id -> canon(vs.get) } == oracle)
  }

  test("a cohort whose slice holds more than OnePartitionMaxRows rows keeps a task per core") {
    // 80 series over three hours: 14.4 k rows in the cohort's slice
    val start = until.getTime / 1000 - 180 * 60
    val many = MetricSource.ofFrame(spark.range(0L, 80L * 180).select(
      org.apache.spark.sql.functions.concat(lit("h."), (col("id") % 80).cast("string"),
        lit(".cpu")).as("metric"),
      (lit(start) + (col("id") / 80).cast("long") * 60).cast("timestamp").as("ts"),
      (col("id") % 97).cast("double").as("value")))
    val specs = Seq(
      monitor(1, Seq("sumSeries(h.*.cpu)"), "max > 100"),
      monitor(2, Seq("movingAverage(h.1*.cpu, 5)"), "mean > 40"),
      monitor(3, Seq("h.3.cpu", "averageSeries(h.2*.cpu)"), "count > 0").copy(minutes = 60))
    val tmp = Files.createTempDirectory("graft-engine-many").toString
    var batch: Map[Long, scala.util.Try[Seq[Verdict]]] = Map.empty
    val plans = planned(specs.size + 2) {
      batch = Runner.runBatch(spark, many, specs, until, s"$tmp/job_data", s"$tmp/job_errors",
        parallelism = 2)
    }
    // still the engine session, but the reductions over the slice shuffle
    val collects = plans.filter(_._1 == "collect")
    assert(collects.size == specs.size && collects.forall(!_._2), plans)
    assert(collects.count(_._3 > 0) == specs.size, collects)
    specs.foreach(sp => assert(canon(batch(sp.id).get) ==
      canon(Runner.evaluate(spark, many, sp, until)), sp.targets))
    // a per-job run goes by its window alone: its metric filter reaches
    // the scan, and it reads the series it matches as one partition
    val single = planned(2)(assert(canon(Runner.runOnce(spark, many, specs(0), until,
      s"$tmp/single/job_data", s"$tmp/single/job_errors")) == canon(batch(1).get)))
    assert(single.filter(_._1 == "collect").map(_._3) == Seq(0), single)
  }

  test("a listener registered after the scheduler is built sees the engine's collects; a conf change gets a new engine") {
    val tmp = Files.createTempDirectory("graft-engine-listener").toString
    val sch = Scheduler.forSourceWithAlerts(spark, source, s"$tmp/job_data",
      s"$tmp/job_errors", s"$tmp/alert_state", s"$tmp/deliveries",
      AlertSinks.default(_ => ()), parallelism = 2)
    Seq(monitor(1, Seq("srv.*.cpu"), "count > 0", "0 * * * *"),
      monitor(2, Seq("srv.*.mem"), "mean > 0", "0 * * * *"),
      monitor(3, Seq("srv.a.mem"), "max > 0", "5 * * * *"))
      .foreach(sch.register(_, t("2024-01-15 11:59:00")))
    val seen = new ConcurrentLinkedQueue[(String, SparkSession)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(funcName -> qe.sparkSession)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val key = "spark.sql.shuffle.partitions"
    val partitions = spark.conf.get(key)
    /** The sessions of the engine collects `body` ran (the runs' and the
      * throttle cycle's), other than `before`, once at least `n` arrived:
      * listener delivery is async, so a late collect of an earlier tick
      * may still arrive. */
    def engineCollects(n: Int, before: Option[SparkSession] = None)(
        body: => Unit): Seq[SparkSession] = {
      seen.clear()
      body
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def engines = seen.asScala.toSeq.collect {
        case ("collect", s) if (s ne spark) && !before.exists(_ eq s) => s
      }
      while (engines.size < n && System.nanoTime() < deadline) Thread.sleep(20)
      engines
    }
    spark.listenerManager.register(listener)
    try {
      val steady = engineCollects(3) {
        sch.tick(t("2024-01-15 12:00:00")); sch.awaitIdle() // a cohort tick
        sch.tick(t("2024-01-15 12:05:00")); sch.awaitIdle() // a per-job tick
      }
      assert(steady.size >= 3, seen.asScala.map(_._1).toString)
      // nothing changed between the ticks: they share one engine session
      assert(steady.distinct.size == 1)
      assert(steady.head.conf.get("spark.sql.codegen.wholeStage") == "false")
      // a runtime conf change on the caller's session: the next tick
      // runs in a new engine session that carries it
      spark.conf.set(key, "3")
      val changed = engineCollects(2, Some(steady.head)) {
        sch.tick(t("2024-01-15 13:00:00")); sch.awaitIdle()
      }
      assert(changed.size >= 2 && changed.distinct.size == 1)
      assert(changed.head.conf.get(key) == "3")
      assert(changed.head.conf.get("spark.sql.codegen.wholeStage") == "false")
    } finally {
      spark.conf.set(key, partitions)
      spark.listenerManager.unregister(listener)
    }
    sch.shutdown()
  }
}
