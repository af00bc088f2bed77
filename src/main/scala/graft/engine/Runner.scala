package graft.engine

import java.sql.Timestamp
import java.util.concurrent.{Executors, FutureTask}

import scala.util.{Success, Try}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.EngineSession

import graft.model.{JobStatus, MonitorSpec, Verdict}
import graft.store.{MetricSource, SharedRoot}

/** Monitor run orchestration — E1 (scheduled run) and E2 (interactive
  * test) from SURVEY §3, minus the Rails host.
  *
  * Pure-plan vs side-effect separation mirrors the reference's
  * `--no-alerts` split (reference Rakefile:4-7): [[evaluate]] is a pure
  * function of (source, spec, now) usable for backtests and UI tests;
  * [[persistRuns]] appends the `job_data` / `job_errors` twins.
  * Verdict collect() is bounded by series count — never data volume.
  *
  * E1 runs ONE scan of the store per run: a run derives the verdicts
  * AND the chart payload from a single aggregation
  * ([[Planner.planWithPoints]]); the payload/error writes read only
  * driver-local rows. The hot path takes a [[MetricSource]] so the
  * window bounds reach the storage scan (PushedFilters), not a
  * post-conversion filter.
  *
  * A scheduled run has two halves: compute (plan, collect, chart) and
  * persist. Persisting is a GROUP COMMIT: the runs of one call
  * ([[runOnce]]: one run; [[runBatch]]: a tick's cohort) write their
  * rows in one `job_data` append and at most one `job_errors` append
  * ([[persistRuns]]), and a run returns only once its group has
  * committed. A failed group write fails every run of the group.
  *
  * E1's compute runs INTERPRETED when its window is at most
  * [[InterpretedMaxMinutes]] long, in an engine session derived from
  * the caller's ([[org.apache.spark.sql.graft.EngineSession]]: per
  * call, a copy of the caller's session with codegen off); the group
  * write always runs there. A run's window bounds and `window_end` are
  * literals that Spark inlines into generated code, so under codegen
  * every run compiles new classes (~19 per run on the `monitor_loop`
  * benchmark, ~20 ms each); interpreted, it compiles none and pays more
  * per row instead. Such a window is also read as one partition when
  * it is known to be small ([[onePartition]]), so the run plans no
  * exchange and is one job of one task. A longer window computes
  * codegen'd and multi-partition in the caller's session, as
  * [[evaluate]], the planner, the backtest, the API and the streaming
  * runner always do.
  */
object Runner {

  /** One chart point; `value` boxed because target functions
    * (transformNull inverses, align joins) can emit nulls. */
  final case class ChartPoint(ts: Timestamp, value: java.lang.Double)
  final case class ChartSeries(metric: String, points: Seq[ChartPoint])

  /** The longest window, in minutes, that a scheduled run evaluates
    * interpreted, and the longest it may read as one partition
    * ([[onePartition]]). Measured on 4 local cores, one run (plan,
    * collect, persist) at a new `now`, interpreted against codegen'd,
    * median of three, over five target forms: at up to ~1.2 k rows per run from
    * the rollup store every form took 0.67-0.82 of its codegen'd time,
    * and at ~1.7 k raw events 0.85-1.02. The forms cross over between
    * ~7 k rows (`movingAverage`) and over 200 k (`summarize`); at 10^5
    * rows interpreted took up to 1.9x as long. The code sees a window's
    * length, not its rows: six hours at the rollup grain (one row per
    * series-minute) of five series is 1.8 k rows. */
  val InterpretedMaxMinutes = 360

  /** The session a scheduled query over a window `minutes` long runs
    * in: `engine` (interpreted) up to [[InterpretedMaxMinutes]],
    * otherwise the caller's `spark` (codegen'd). */
  private def sessionFor(spark: SparkSession, engine: SparkSession, minutes: Long) =
    if (minutes <= InterpretedMaxMinutes) engine else spark

  /** The most rows a cohort's slice ([[runBatch]]) may hold for its
    * runs to read their windows as one partition. The cost of a window
    * is in its rows (series x minutes), and the slice holds every series
    * of the store for the union window, so its minutes alone do not
    * bound it. Measured on 4 local cores, one partition (one task, no
    * exchange) against the multi-partition plan (a task per core and the
    * exchanges above the scan), for a run whose target matches every
    * series of a 360-minute window: ahead by 8-19% at 1.8 k-7.2 k rows,
    * even at 10.8 k, behind from 18 k, and 1.4x as long at 72 k and
    * 1.8x at 180 k rows. */
  val OnePartitionMaxRows = 10000L

  /** Whether a scheduled run reads its window as ONE partition: an
    * engine window ([[sessionFor]]) whose rows are known to be few.
    * `coalesce(1)` moves no data, so the plan keeps `SinglePartition`
    * through filters, projections and a union of such scans: the
    * aggregations, windows and joins above it need no exchange, and a
    * run is one job of one task. The scan's own filters stay below the
    * coalesce, so the window bounds still reach `PushedFilters`.
    *
    * `rows` is what the caller knows of the rows beneath the run: the
    * row count of a cohort's filled slice, or None for a per-job run,
    * whose scan has not run yet. A per-job run's metric filters push
    * through the coalesce into the scan, so it reads only the series its
    * targets match; it goes by its window's minutes alone, so one whose
    * targets match thousands of series reads them all in one task, at
    * the cost [[OnePartitionMaxRows]] lists. */
  private def onePartition(minutes: Long, rows: Option[Long]): Boolean =
    minutes <= InterpretedMaxMinutes && rows.forall(_ <= OnePartitionMaxRows)

  /** E2 / pure evaluation: verdict rows only, no side effects. */
  def evaluate(spark: SparkSession, source: MetricSource, spec: MonitorSpec,
      now: Timestamp): Seq[Verdict] = {
    val df = Planner.plan(spark, source, spec, now)
    toVerdicts(spec, df.columns, df.collect().toSeq)
  }

  def evaluate(spark: SparkSession, store: DataFrame, spec: MonitorSpec,
      now: Timestamp): Seq[Verdict] =
    evaluate(spark, MetricSource.ofFrame(store), spec, now)

  private def toVerdicts(spec: MonitorSpec, columns: Seq[String],
      rows: Seq[Row]): Seq[Verdict] = {
    val redCols = columns.filter(_.startsWith("red_")).sorted
    val firstRed = redCols.headOption.getOrElse("red_mean")
    rows.map { r =>
      val passed = !r.isNullAt(r.fieldIndex("passed")) && r.getBoolean(r.fieldIndex("passed"))
      Verdict(
        jobId = spec.id,
        metric = r.getString(r.fieldIndex("metric")),
        windowEnd = r.getTimestamp(r.fieldIndex("window_end")),
        observed = Option(r.get(r.fieldIndex(firstRed))).map(_.toString.toDouble),
        passed = passed,
        message = if (passed) "" else s"${spec.name}: ${spec.monitorExpr} violated")
    }
  }

  /** Overall job status from per-series verdicts: any failing series
    * fails the job (a raise in the reference's sandbox fails the run);
    * an empty series set is an error (bad target / no data). */
  def jobStatus(verdicts: Seq[Verdict]): String =
    if (verdicts.isEmpty) JobStatus.Error
    else if (verdicts.forall(_.passed)) JobStatus.Success
    else JobStatus.Failed

  /** One computed run, not yet persisted: its spec, its verdicts and
    * its chart payload. */
  final case class Run(spec: MonitorSpec, verdicts: Seq[Verdict], chart: Seq[ChartSeries])

  /** E1 persistence, one group commit for `runs`: ONE `job_data` append
    * with a row per run (the JSON chart payload — reference
    * db/schema.rb:29-36) and, when any run has failing verdicts, ONE
    * `job_errors` append with a row per failing verdict
    * (db/schema.rb:38-48). Each is `partitionBy("job_id")` at its table
    * root, so the layout is `<root>/job_id=N/part-*.parquet` with
    * columns `window_end, status, data` and `at, message, status`.
    *
    * Appends to one root go through [[graft.store.SharedRoot.append]],
    * which serializes them per root: concurrent appends to a root would
    * delete each other's `_temporary/0/` staging. So concurrent groups
    * (a cohort tick and a single-job tick, or two `runOnce` calls)
    * commit safely, one after the other. The `job_errors` append runs on
    * a new thread, which inherits the caller's Spark local properties
    * (the FAIR pool name), alongside the `job_data` append; the call
    * returns when both have committed and throws if either failed. The
    * rows are driver-local (already collected by the runs' scans), so
    * neither write touches the store.
    *
    * The two appends are neither ordered nor atomic together, and a
    * failure belongs to the whole group:
    *  - when the `job_data` append fails and the `job_errors` one
    *    commits, `job_errors` keeps rows of runs whose `job_data` rows
    *    never landed (and that the caller reports as failed);
    *  - when either append fails, the call throws for every run of the
    *    group, including runs whose rows a partly committed append had
    *    already moved in. A write fault tied to one run (say an
    *    unwritable `<root>/job_id=N`) therefore fails its neighbours
    *    too, on every group it joins. */
  def persistRuns(spark: SparkSession, runs: Seq[Run], jobDataPath: String,
      jobErrorsPath: String): Unit =
    if (runs.nonEmpty) {
      import spark.implicits._
      val errors = for {
        r <- runs
        v <- r.verdicts if !v.passed
      } yield (r.spec.id, v.windowEnd, v.message, jobStatus(r.verdicts))
      val errorsAppend = Option.when(errors.nonEmpty) {
        val task = new FutureTask[Unit](() => EngineSession.withActive(spark)(
          SharedRoot.append(errors.toDF("job_id", "at", "message", "status"), jobErrorsPath,
            "job_id")))
        new Thread(task).start()
        task
      }
      // one row per run holding its whole chart: the projection folds
      // into a local table scan, so the write is one job (no exchange)
      val data = Try(SharedRoot.append(runs
        .map(r => (r.spec.id, r.verdicts.headOption.map(_.windowEnd).orNull,
          jobStatus(r.verdicts), r.chart))
        .toDF("job_id", "window_end", "status", "chart")
        .select(col("job_id"), col("window_end"), col("status"), to_json(col("chart")).as("data")),
        jobDataPath, "job_id"))
      errorsAppend.foreach(_.get())
      data.get
    }

  /** E1: evaluate + persist + (throttled) alert rows. Returns verdicts.
    * Alert dispatch is a side-effecting sink fed by the returned rows —
    * deliberately OUT of the query plan (SURVEY §2.1 S7). A window up
    * to [[InterpretedMaxMinutes]] runs in an engine session derived from
    * `spark` for this call. The run is a group of one: it returns after
    * its rows have committed. */
  def runOnce(spark: SparkSession, source: MetricSource, spec: MonitorSpec,
      now: Timestamp, jobDataPath: String, jobErrorsPath: String): Seq[Verdict] =
    runIn(spark, EngineSession.derive(spark), source, spec, now, jobDataPath, jobErrorsPath)

  def runOnce(spark: SparkSession, store: DataFrame, spec: MonitorSpec,
      now: Timestamp, jobDataPath: String, jobErrorsPath: String): Seq[Verdict] =
    runOnce(spark, MetricSource.ofFrame(store), spec, now, jobDataPath, jobErrorsPath)

  /** [[runOnce]] with an engine session the caller derived from `spark`
    * (the scheduler shares one with the tick's throttle cycle). */
  private[engine] def runIn(spark: SparkSession, engine: SparkSession, source: MetricSource,
      spec: MonitorSpec, now: Timestamp, jobDataPath: String,
      jobErrorsPath: String): Seq[Verdict] = {
    val run = compute(spark, engine, source, spec, now, onePartition(spec.minutes, None))
    EngineSession.withActive(engine)(persistRuns(engine, Seq(run), jobDataPath, jobErrorsPath))
    run.verdicts
  }

  /** The compute half of a scheduled run: plan, collect and chart. The
    * run takes the session its window calls for ([[sessionFor]]); its
    * plan moves to that session before the collect, and the collect has
    * that session as its active one. With `single`, the run reads each
    * scan of its window as one partition ([[onePartition]]) and
    * restates its full outer joins as one partition too
    * ([[EngineSession.onePartitionJoins]]), so no operator above them
    * plans an exchange either. */
  private def compute(spark: SparkSession, engine: SparkSession, source: MetricSource,
      spec: MonitorSpec, now: Timestamp, single: Boolean): Run = {
    val session = sessionFor(spark, engine, spec.minutes)
    val window: MetricSource =
      if (single) (from, until) => source.scan(from, until).coalesce(1) else source
    EngineSession.withActive(session) {
      val plan = Planner.planWithPoints(session, window, spec, now)
      val df = EngineSession.adopt(session,
        if (single) EngineSession.onePartitionJoins(plan) else plan)
      val rows = df.collect().toSeq
      // Merge chart points per metric across targets (a metric matched by
      // two targets charts once), sorted by ts for a deterministic payload.
      val chart = rows
        .map { r =>
          val pts = r.getSeq[Row](r.fieldIndex("points")).map { p =>
            ChartPoint(p.getTimestamp(0), p.get(1).asInstanceOf[java.lang.Double])
          }
          (r.getString(r.fieldIndex("metric")), pts)
        }
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (m, grps) =>
          ChartSeries(m, grps.flatMap(_._2).sortBy(_.ts.getTime)) }
      Run(spec, toVerdicts(spec, df.columns, rows), chart)
    }
  }

  /** E1 batched (the thousands-of-monitors cost model): K due jobs that
    * fire on the same tick share ONE scan of the store and ONE group
    * commit. The union of their windows is scanned once, persisted and
    * filled by one job; each job's compute then clips its own
    * (narrower) window from the cached slice — a filter over in-memory
    * columnar batches, not a second storage scan. The K computes (plan,
    * collect, chart) go to `min(parallelism, K)` threads created here,
    * so each inherits the calling thread's Spark local properties (the
    * FAIR pool name). When all K have returned, the runs that computed
    * are persisted as one group ([[persistRuns]]): one `job_data`
    * append, and the `job_errors` append alongside it on a thread
    * started from the calling thread. Results are keyed by spec id, and
    * returned only after the group commit: a run whose compute throws
    * is a `Failure` for its spec alone; a group write that throws is a
    * `Failure` for every run of the group, even when the fault lies in
    * one run's rows ([[persistRuns]] lists what such a failure leaves
    * on disk). Verdicts are identical to K independent
    * [[runOnce]] calls, at any parallelism (SchedulerSpec proves
    * verdict equality and the single source scan).
    *
    * One engine session, derived here, serves the slice, the K runs,
    * each by its window ([[sessionFor]]), and the group write: the scan
    * moves into the session the union window calls for before
    * `persist()`, so the cache build and fill run there too, a task per
    * partition of the scan, and each run moves its plan over the slice
    * into the session its own window calls for (the cache is shared
    * between them). The fill leaves the slice's row count in the cache,
    * at no job's cost, and a run over an engine window reads the slice
    * as one partition when that count is at most
    * [[OnePartitionMaxRows]] ([[onePartition]]).
    *
    * The cached slice is window-bounded (the whole point of monitor
    * windows: KB-to-MB per job even at 100 TB of history), so pinning it
    * for the batch is safe. */
  def runBatch(spark: SparkSession, source: MetricSource, specs: Seq[MonitorSpec],
      now: Timestamp, jobDataPath: String, jobErrorsPath: String,
      parallelism: Int = 1): Map[Long, Try[Seq[Verdict]]] =
    batchIn(spark, EngineSession.derive(spark), source, specs, now, jobDataPath,
      jobErrorsPath, parallelism)

  /** [[runBatch]] with an engine session the caller derived from `spark`. */
  private[engine] def batchIn(spark: SparkSession, engine: SparkSession,
      source: MetricSource, specs: Seq[MonitorSpec], now: Timestamp, jobDataPath: String,
      jobErrorsPath: String, parallelism: Int): Map[Long, Try[Seq[Verdict]]] = {
    if (specs.isEmpty) return Map.empty
    val bounds = specs.map { sp =>
      val until = sp.toDate.getOrElse(now)
      (until.getTime - sp.minutes * 60000L, until.getTime)
    }
    val (from, until) = (bounds.map(_._1).min, bounds.map(_._2).max)
    val minutes = (until - from) / 60000L
    val home = sessionFor(spark, engine, minutes)
    val clipped = EngineSession.adopt(home,
      source.scan(new Timestamp(from), new Timestamp(until))).persist()
    try {
      // fill the cache once, before the fan-out: otherwise each
      // concurrent run would materialize the slice itself
      EngineSession.withActive(home)(clipped.foreachPartition((_: Iterator[Row]) => ()))
      val slice = MetricSource.ofFrame(clipped)
      // a count the cache does not hold reads as too many rows
      val rows = EngineSession.cachedRows(clipped).orElse(Some(Long.MaxValue))
      val pool = Executors.newFixedThreadPool(math.min(parallelism, specs.size))
      try {
        val computed = specs.map { spec =>
          val single = onePartition(spec.minutes, rows)
          spec.id -> pool.submit(() => Try(compute(spark, engine, slice, spec, now, single)))
        }.map { case (id, run) => id -> run.get }
        val committed = Try(EngineSession.withActive(engine)(persistRuns(engine,
          computed.collect { case (_, Success(run)) => run }, jobDataPath, jobErrorsPath)))
        computed.map { case (id, run) =>
          id -> run.flatMap(r => committed.map(_ => r.verdicts)) }.toMap
      } finally pool.shutdown()
    } finally clipped.unpersist()
  }

  /** E3 read path: latest persisted run per job (O1). */
  def latestRuns(spark: SparkSession, jobDataPath: String): DataFrame = {
    val runs = spark.read.parquet(jobDataPath)
    runs.groupBy(col("job_id"))
      .agg(max_by(struct(col("window_end"), col("status"), col("data")),
        col("window_end")).as("r"))
      .select(col("job_id"), col("r.window_end").as("window_end"),
        col("r.status").as("status"), col("r.data").as("data"))
  }
}
