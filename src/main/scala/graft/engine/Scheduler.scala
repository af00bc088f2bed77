package graft.engine

import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, ExecutorService, Executors, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Success

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.EngineSession
import org.apache.spark.sql.types.{LongType, StructType}

import graft.dsl.Cron
import graft.model.{JobStatus, MonitorSpec}
import graft.store.MetricSource

/** ST1 stage 1 / E1: the scheduler daemon. The reference boots a
  * celluloid actor scheduler alongside the app (reference Rakefile:4-7
  * `--no-preload --no-alerts`; celluloid in Gemfile.lock:160) that scans
  * active jobs (`jobs.active`, db/schema.rb:54), fires every job whose
  * `next_run` (db/schema.rb:62) is due, and advances `next_run` from the
  * job's `cron_expr`.
  *
  * Spark-native shape: ONE driver-side loop, bounded worker pool. Each
  * due job's run is a single Catalyst plan ([[Runner.runOnce]]) submitted
  * from its worker thread under a named FAIR scheduler pool, so N
  * concurrent monitor runs share the cluster fairly instead of FIFO
  * head-of-line blocking (the host session should set
  * `spark.scheduler.mode=FAIR`; the pool name is a thread-local property,
  * which is the public Spark mechanism for per-job pools). A run whose
  * window is at most [[Runner.InterpretedMaxMinutes]] long executes
  * interpreted, in an engine session derived from the scheduler's
  * session ([[Runner]]), so it pays no code-generation compile; the
  * session passed in is never changed. Job *state* is
  * driver-memory (monitor count ≈ thousands, metadata-sized) with a
  * parquet save/load twin for cross-restart parity with the reference's
  * DB-persisted `next_run`.
  *
  * Overlap rule: a firing that comes due while the same job's previous
  * run is still executing is SKIPPED (counted, `next_run` still
  * advances) — same effect as the reference's one-actor-per-job model,
  * and the right call at scale: queueing monitor windows behind a slow
  * run only amplifies lag, and the next run re-reads the freshest window
  * anyway.
  */
final class Scheduler(
    runJob: (MonitorSpec, Timestamp) => String,
    parallelism: Int = 4,
    spark: Option[SparkSession] = None,
    fairPool: String = "monitors",
    /** When set, a tick's whole due set is evaluated as ONE batch (one
      * shared scan of the store — [[Runner.runBatch]]): the cost model
      * for thousands of same-schedule monitors. The batch runs on one
      * pool thread under the FAIR pool and may fan its runs out to at
      * most `parallelism` threads of its own; it returns a status per
      * job, and a job it leaves out is `Error`. Per-job dispatch remains
      * the default and the fallback for single-job ticks. */
    runBatch: Option[(Seq[MonitorSpec], Timestamp) => Map[Long, String]] = None) {

  /** Mutable per-job slot. `running` guards overlap; `nextRun` is the
    * only schedule state (None = inactive or unschedulable cron). */
  private final class Slot(@volatile var spec: MonitorSpec) {
    @volatile var nextRun: Option[Instant] = None
    @volatile var running: Boolean = false
    @volatile var lastStatus: String = ""
    @volatile var lastRunAt: Option[Instant] = None
    var fired: Long = 0L
    var skipped: Long = 0L
  }

  private val slots = new ConcurrentHashMap[Long, Slot]()
  private val pool: ExecutorService = Executors.newFixedThreadPool(parallelism)
  private val inFlight = new java.util.concurrent.Phaser(1) // self-registered

  /** Register (or replace) a job; schedule its first firing strictly
    * after `now`. */
  def register(spec: MonitorSpec, now: Instant): Unit = {
    val s = new Slot(spec)
    if (spec.active) s.nextRun = Cron.parse(spec.cronExpr).nextAfter(now)
    slots.put(spec.id, s)
  }

  def deactivate(jobId: Long): Unit = {
    val s = slots.get(jobId)
    if (s != null) { s.spec = s.spec.copy(active = false); s.nextRun = None }
  }

  /** One scheduler beat at (virtual or wall) time `now`: fire every due
    * job, skip due-but-still-running ones, advance `next_run` either
    * way. Returns (fired, skipped) job ids, fired in deterministic id
    * order (the pool bounds actual concurrency). */
  def tick(now: Instant): (Seq[Long], Seq[Long]) = {
    val fired = Seq.newBuilder[Long]
    val skipped = Seq.newBuilder[Long]
    val toRun = Seq.newBuilder[Slot]
    slots.asScala.toSeq.sortBy(_._1).foreach { case (id, s) =>
      val due = s.spec.active && s.nextRun.exists(!_.isAfter(now))
      if (due) {
        // advance past `now` regardless of outcome: a slow or skipped
        // run must not freeze the schedule
        s.nextRun = Cron.parse(s.spec.cronExpr).nextAfter(now)
        if (s.running) { s.skipped += 1; skipped += id }
        else {
          s.running = true
          s.fired += 1
          fired += id
          toRun += s
        }
      }
    }
    val due = toRun.result()
    val fireAt = Timestamp.from(now)
    runBatch match {
      case Some(batch) if due.size > 1 =>
        // same-tick jobs share one scan: a single pool task runs the
        // whole set, fanning its runs out to threads it creates (they
        // inherit this thread's FAIR pool name)
        inFlight.register()
        pool.execute { () =>
          try {
            spark.foreach(_.sparkContext.setLocalProperty("spark.scheduler.pool", fairPool))
            val statuses =
              try batch(due.map(_.spec), fireAt)
              catch { case scala.util.control.NonFatal(_) =>
                due.map(_.spec.id -> JobStatus.Error).toMap }
            due.foreach { s =>
              s.lastStatus = statuses.getOrElse(s.spec.id, JobStatus.Error)
              s.lastRunAt = Some(now)
            }
          } finally {
            due.foreach(_.running = false)
            inFlight.arriveAndDeregister()
          }
        }
      case _ =>
        due.foreach { s =>
          inFlight.register()
          pool.execute { () =>
            try {
              // name the FAIR pool for every Spark job this run submits
              spark.foreach(_.sparkContext.setLocalProperty("spark.scheduler.pool", fairPool))
              val status =
                try runJob(s.spec, fireAt)
                catch { case scala.util.control.NonFatal(_) => JobStatus.Error }
              s.lastStatus = status
              s.lastRunAt = Some(now)
            } finally {
              s.running = false
              inFlight.arriveAndDeregister()
            }
          }
        }
    }
    (fired.result(), skipped.result())
  }

  /** Block until every dispatched run has finished (test/shutdown aid). */
  def awaitIdle(): Unit = inFlight.arriveAndAwaitAdvance()

  /** Wall-clock daemon loop: tick, then sleep until the earliest
    * `next_run` (capped so newly-registered jobs are noticed). Runs
    * until `until` passes or the thread is interrupted. */
  def runLoop(until: Instant, maxSleepMillis: Long = 10000L): Unit = {
    try {
      var now = Instant.now()
      while (now.isBefore(until) && !Thread.currentThread().isInterrupted) {
        tick(now)
        val wake = slots.asScala.values.flatMap(_.nextRun).minOption.getOrElse(until)
        val ms = math.min(maxSleepMillis,
          math.max(50L, java.time.Duration.between(Instant.now(), wake).toMillis))
        Thread.sleep(ms)
        now = Instant.now()
      }
    } catch { case _: InterruptedException => () }
  }

  def shutdown(): Unit = { pool.shutdown(); pool.awaitTermination(30, TimeUnit.SECONDS) }

  final case class JobSnapshot(jobId: Long, nextRun: Option[Instant], running: Boolean,
      lastStatus: String, fired: Long, skipped: Long)

  def snapshot: Seq[JobSnapshot] =
    slots.asScala.toSeq.sortBy(_._1).map { case (id, s) =>
      JobSnapshot(id, s.nextRun, s.running, s.lastStatus, s.fired, s.skipped)
    }

  /** Persist `next_run` per job (the reference keeps it in the jobs
    * table, db/schema.rb:62) so a restarted scheduler resumes the same
    * schedule instead of re-deriving "next after boot". Versioned
    * through [[graft.store.VersionedTable]]: a failed or interrupted
    * save leaves the previous version loadable. */
  def saveState(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val df = slots.asScala.toSeq
      .map { case (id, s) => (id, s.nextRun.map(_.toEpochMilli): Option[Long]) }
      .toDF("job_id", "next_run_millis")
    graft.store.VersionedTable.publish(spark, path)(df.write.parquet(_))
  }

  /** Restore persisted `next_run`s onto registered jobs. A path that was
    * never saved restores nothing: every job keeps the schedule its
    * registration computed. */
  def loadState(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val schema = new StructType().add("job_id", LongType).add("next_run_millis", LongType)
    val saved = graft.store.VersionedTable.read(spark, path, schema)
      .fold(Array.empty[(Long, Option[Long])])(_.as[(Long, Option[Long])].collect())
    saved.foreach {
      case (id, next) =>
        val s = slots.get(id)
        // apply only a CONCRETE persisted fire time to active jobs: a
        // persisted None means the job was inactive at save time, and
        // clobbering a freshly-registered active job's computed nextRun
        // with it would freeze the job forever (tick only advances
        // slots that have a nextRun)
        if (s != null && s.spec.active && next.isDefined)
          s.nextRun = next.map(Instant.ofEpochMilli)
    }
  }
}

object Scheduler {

  /** Production wiring: due jobs run [[Runner.runOnce]] against the
    * windowed metric source (bounds → PushedFilters) and persist the
    * job_data / job_errors twins, one group commit per tick (a cohort's
    * runs together, a single job's run alone); each tick's runs share
    * one engine session, the scheduler's current one. */
  def forSource(spark: SparkSession, source: MetricSource,
      jobDataPath: String, jobErrorsPath: String,
      parallelism: Int = 4): Scheduler = {
    val engines = new EngineSession.Current(spark)
    new Scheduler(
      runJob = (spec, fireAt) => Runner.jobStatus(Runner.runIn(spark, engines.get(), source,
        spec, fireAt, jobDataPath, jobErrorsPath)),
      parallelism = parallelism,
      spark = Some(spark),
      runBatch = Some((specs, fireAt) =>
        Runner.batchIn(spark, engines.get(), source, specs, fireAt, jobDataPath, jobErrorsPath,
          parallelism)
          .map { case (id, run) => id -> run.fold(_ => JobStatus.Error, Runner.jobStatus) }))
  }

  /** Full E1 loop (reference stages 1-5): run → persist → throttle →
    * deliver. Throttle and delivery run through [[graft.state
    * .AlertThrottle.cycle]], the one cycle the streaming runner also
    * uses, over one state table, so a job alerted by either path stays
    * throttled on both.
    *
    * A tick's runs persist as one group ([[Runner.persistRuns]]: one
    * `job_data` append, at most one `job_errors` append), and a run
    * counts as done only once its group has committed: its status, then
    * the throttle cycle, then its page. A cohort tick runs ONE cycle for
    * all its events, after the group commit, in spec order: one state
    * publish per tick, not one per spec, and no state read while the
    * table is the one the previous cycle published. A run that throws,
    * or whose group write fails, is `Error` and stays out of the cycle,
    * on both paths; a cohort neighbour whose own run computed still
    * pages once the group has committed. A failed group write reaches
    * every run of the group, so a write fault tied to one run's rows
    * keeps its failing neighbours from paging on every tick it fires
    * with them, and may leave `job_errors` rows for runs reported as
    * `Error` ([[Runner.persistRuns]]).
    *
    * Each tick (a cohort's batch, or one job's run) runs its cycle, and
    * every monitor whose window is at most [[Runner.InterpretedMaxMinutes]]
    * long (longer ones run codegen'd in `spark`), in the scheduler's
    * current engine session ([[Runner]]: interpreted, no code
    * generation). The scheduler holds one engine session and derives a
    * new one when `spark`'s runtime confs or query-execution listeners
    * have changed since ([[org.apache.spark.sql.graft.EngineSession
    * .Current]]), so a conf change or a listener registered after the
    * scheduler is built still reaches the next tick. */
  def forSourceWithAlerts(spark: SparkSession, source: MetricSource,
      jobDataPath: String, jobErrorsPath: String,
      alertStatePath: String, deliveryPath: String,
      sinks: Seq[graft.state.AlertSink],
      parallelism: Int = 4): Scheduler = {
    import graft.state.AlertThrottle
    val engines = new EngineSession.Current(spark)
    def throttleAndDeliverAll(engine: SparkSession,
        specsWithStatus: Seq[(MonitorSpec, String)], fireAt: Timestamp): Unit = {
      val events = specsWithStatus.map { case (spec, status) =>
        AlertThrottle.RunEvent(spec.id, fireAt,
          failed = status != JobStatus.Success, spec.errorTimeoutMinutes)
      }
      val byId = specsWithStatus.map { case (sp, _) => sp.id -> sp }.toMap
      EngineSession.withActive(engine)(AlertThrottle.cycle(engine, alertStatePath, events,
        byId.get, sinks, Some(deliveryPath)))
    }
    new Scheduler(
      runJob = (spec, fireAt) => {
        val engine = engines.get()
        val verdicts =
          Runner.runIn(spark, engine, source, spec, fireAt, jobDataPath, jobErrorsPath)
        val status = Runner.jobStatus(verdicts)
        throttleAndDeliverAll(engine, Seq(spec -> status), fireAt)
        status
      },
      parallelism = parallelism,
      spark = Some(spark),
      runBatch = Some((specs, fireAt) => {
        val engine = engines.get()
        val results = Runner.batchIn(spark, engine, source, specs, fireAt, jobDataPath,
          jobErrorsPath, parallelism)
        val statuses = specs.map(spec => spec -> results(spec.id).map(Runner.jobStatus))
        throttleAndDeliverAll(engine, statuses.collect { case (sp, Success(st)) => sp -> st },
          fireAt)
        statuses.map { case (sp, st) => sp.id -> st.getOrElse(JobStatus.Error) }.toMap
      }))
  }
}
