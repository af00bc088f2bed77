package graft.state

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.model.{JobStatus, MonitorSpec}

/** Alert throttling + status transitions (ST5): the reference tracks
  * `job_errors.last_alerted_at` (db/schema.rb:43) and suppresses
  * re-alerts within `error_timeout` minutes (db/schema.rb:61, default
  * 60), with job status driven by a state machine (Gemfile.lock:167).
  *
  * One implementation: [[replay]], a driver-side per-job ordered fold
  * with the state carried between calls. Every monitor path runs it
  * through [[cycle]]: the scheduler per tick, and the streaming runner
  * per micro-batch from `foreachBatch` (the driver-replay pattern, so
  * the state lives in the versioned state table, not a Spark state
  * store).
  *
  * Rule (matching the reference's semantics): alert fires on a failing
  * run iff no alert has fired for this job in the previous
  * `errorTimeoutMinutes`; a passing run resets status (recovery) but
  * not the throttle clock.
  */
object AlertThrottle {

  /** One evaluated run for throttling purposes. */
  final case class RunEvent(jobId: Long, at: Timestamp, failed: Boolean,
      errorTimeoutMinutes: Int)

  /** An alert that should actually fire. */
  final case class Alert(jobId: Long, at: Timestamp, transition: String)

  /** Per-job throttle state, carried between [[replay]] calls and
    * persisted by [[saveStateTable]]. */
  final case class ThrottleState(status: String, lastAlertedAtMillis: Long)

  /** A failure episode whose enter-failure alert was SUPPRESSED by the
    * throttle (recovery + re-failure inside the window): distinct from
    * [[JobStatus.Failed]] (= alerted) so the first DELIVERED alert of a
    * new episode is labeled "enter-failure", not "still-failing" — a
    * recipient who never saw this episode's start must not get a
    * continuation message. Legacy persisted "failed" restores as
    * alerted (the old semantics). */
  val FailedUnalerted = "failed-unalerted"

  private def foldEvents(events: Seq[RunEvent],
      init: Option[ThrottleState]): (Seq[Alert], ThrottleState) = {
    var st = init.getOrElse(ThrottleState(JobStatus.Success, Long.MinValue))
    val out = Seq.newBuilder[Alert]
    events.sortBy(_.at.getTime).foreach { e =>
      if (e.failed) {
        val throttleMs = e.errorTimeoutMinutes * 60000L
        // sentinel MinValue = "never alerted" (subtraction would overflow)
        val due = st.lastAlertedAtMillis == Long.MinValue ||
          e.at.getTime - st.lastAlertedAtMillis >= throttleMs
        // "still-failing" ONLY when this episode's enter-failure was
        // actually delivered (status Failed = alerted); a suppressed
        // episode start labels its first delivered alert enter-failure
        val transition =
          if (st.status == JobStatus.Failed) "still-failing" else "enter-failure"
        if (due) {
          out += Alert(e.jobId, e.at, transition)
          st = ThrottleState(JobStatus.Failed, e.at.getTime)
        } else st = st.copy(status =
          if (st.status == JobStatus.Failed) JobStatus.Failed else FailedUnalerted)
      } else st = st.copy(status = JobStatus.Success)
    }
    (out.result(), st)
  }

  /** Driver-side replay with carried state (the StreamingRunner
    * foreachBatch path — input is already collected, bounded by monitor
    * count × windows per batch). State carries BOTH the throttle clock
    * and the job status — restoring only the clock would mislabel the
    * first post-recovery alert as 'still-failing'. Returns fired alerts
    * + updated per-job state. */
  def replay(events: Seq[RunEvent],
      init: Map[Long, ThrottleState]): (Seq[Alert], Map[Long, ThrottleState]) = {
    val byJob = events.groupBy(_.jobId)
    val outAlerts = Seq.newBuilder[Alert]
    val outState = Map.newBuilder[Long, ThrottleState]
    byJob.foreach { case (jobId, evs) =>
      val (alerts, st) = foldEvents(evs, init.get(jobId))
      outAlerts ++= alerts
      outState += jobId -> st
    }
    init.foreach { case (j, st) => if (!byJob.contains(j)) outState += j -> st }
    (outAlerts.result().sortBy(_.at.getTime), outState.result())
  }

  /** JVM-global lock for the load→replay→save cycle over the shared
    * state table: the streaming runner and the scheduler both advertise
    * the same path, and interleaved cycles would lose throttle updates
    * (or overwrite mid-read). Only [[cycle]] takes it, around the WHOLE
    * cycle. Scope honesty: a JVM lock serializes the single-driver
    * deployment this library targets; two separate driver JVMs sharing
    * one path would need a storage-level lease. */
  private val stateTableLock = new Object

  /** Per state path, the state the last [[cycle]] over it published
    * and the [[graft.store.VersionedTable.Stamp]] of that publish.
    * Guarded by [[stateTableLock]]. */
  private val lastPublished =
    scala.collection.mutable.Map.empty[String, (graft.store.VersionedTable.Stamp,
      Map[Long, ThrottleState])]

  /** The one throttle-and-deliver cycle of every monitor path (the
    * scheduler and the streaming runner), under [[stateTableLock]]:
    * load the state table, [[replay]] `events` over it, hand the fired
    * alerts to `record` (streaming writes its per-batch alerts table
    * there), deliver them through [[AlertDispatcher.dispatch]] and
    * append the delivery records to `deliveryPath`, then save the new
    * state. Every fired alert is dispatched: with no `sinks` the
    * dispatcher's stderr log channel delivers it, so a page is never
    * dropped without a trace.
    *
    * The load is a Spark job only when the table changed since this
    * JVM's last cycle over `statePath`: the cycle keeps the state it
    * last published, with that publish's stamp, and reuses it while
    * [[graft.store.VersionedTable.stamp]] (filesystem calls) still
    * names the same publish. A save made outside the cycle, or a
    * directory deleted and re-created, changes the stamp and is read
    * from disk. The kept state is replaced only after a publish
    * succeeds.
    *
    * Delivery is AT-LEAST-ONCE. The state is published only after
    * dispatch and the delivery-audit append, so a cycle that fails in
    * between (the audit append or the state publish throws) leaves the
    * state at its previous version: the next failing run of that job
    * finds it un-alerted and pages again. A page may be sent twice but
    * is never lost. There is no idempotency key yet; a receiver that
    * needs exactly-once pages dedups on (job id, run time). */
  def cycle(spark: SparkSession, statePath: String, events: Seq[RunEvent],
      specOf: Long => Option[MonitorSpec], sinks: Seq[AlertSink],
      deliveryPath: Option[String], record: Seq[Alert] => Unit = _ => ()): Unit =
    if (events.nonEmpty) stateTableLock.synchronized {
      val onDisk = graft.store.VersionedTable.stamp(spark, statePath)
      val prior = lastPublished.get(statePath)
        .collect { case (stamp, st) if onDisk.contains(stamp) => st }
        .getOrElse(loadStateTable(spark, statePath))
      val (alerts, newState) = replay(events, prior)
      if (alerts.nonEmpty) {
        record(alerts)
        val deliveries = AlertDispatcher.dispatch(alerts, specOf, sinks)
        deliveryPath.foreach(AlertDispatcher.persist(spark, deliveries, _))
      }
      val root = saveStateTable(spark, statePath, newState)
      graft.store.VersionedTable.stamp(spark, statePath).filter(_.root == root) match {
        case Some(stamp) => lastPublished(statePath) = stamp -> newState
        case None => lastPublished -= statePath
      }
    }

  /** Parquet-backed throttle-state table (job_id → status + last-alerted
    * ms — both, so a post-recovery alert is labeled 'enter-failure'
    * across restarts). Bounded by monitor count — metadata scale. Shared
    * by the streaming runner and the scheduler so a job alerted by one
    * path stays throttled on the other. Written by [[cycle]] and read
    * by it when the table changed since its last publish, versioned
    * through [[graft.store.VersionedTable]]: a failed or interrupted
    * save leaves the previous version loadable. This load always reads
    * the disk. */
  def loadStateTable(spark: SparkSession,
      path: String): Map[Long, ThrottleState] =
    // only a MISSING (never published) table reads as empty; an IO or
    // corruption error must propagate — swallowing it reset every job's
    // throttle clock to "never alerted" and the next save persisted the
    // wiped state (alert storm on a transient storage hiccup)
    graft.store.VersionedTable.read(spark, path, StateSchema)
      .fold(Map.empty[Long, ThrottleState])(
        _.collect().map(r => r.getLong(0) -> ThrottleState(r.getString(1), r.getLong(2))).toMap)

  /** The columns [[saveStateTable]] writes. */
  private val StateSchema = new StructType()
    .add("job_id", LongType).add("status", StringType).add("last_alerted_ms", LongType)

  /** Publish `st` as the table's new version; returns its root. */
  def saveStateTable(spark: SparkSession, path: String,
      st: Map[Long, ThrottleState]): String = {
    import spark.implicits._
    val df = st.toSeq.map { case (j, s) => (j, s.status, s.lastAlertedAtMillis) }
      .toDF("job_id", "status", "last_alerted_ms")
    graft.store.VersionedTable.publish(spark, path)(df.coalesce(1).write.parquet(_))
  }
}
