package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.reflect.io.Directory

import graft.model.{JobStatus, MonitorSpec}
import graft.state.{AlertSinks, AlertThrottle}
import graft.state.AlertThrottle.{RunEvent, ThrottleState}

/** `AlertThrottle.cycle` keeps the state it last published and reads
  * the table only when the table changed since; `loadStateTable` is the
  * on-disk oracle. */
class ThrottleStateCacheSpec extends SparkTestBase {

  private val at = Timestamp.valueOf("2024-01-15 12:00:00")
  private def later(minutes: Int) = new Timestamp(at.getTime + minutes * 60000L)

  private def spec(id: Long) = MonitorSpec(
    id = id, name = s"cache$id", targets = Seq("events.*"), minutes = 60, toDate = None,
    cronExpr = "* * * * *", monitorExpr = "mean < 5", alertKeys = Seq("mailto:a@b"))

  /** A cycle of one run of job 1 at `t`, paging into `sent`. */
  private def cycle(statePath: String, t: Timestamp, failed: Boolean,
      sent: ArrayBuffer[String]): Unit =
    AlertThrottle.cycle(spark, statePath, Seq(RunEvent(1L, t, failed, 60)),
      id => Some(spec(id)), AlertSinks.default(sent += _), None)

  test("a second cycle over the state it published issues no state-read job") {
    val tmp = Files.createTempDirectory("graft-cache-reads").toString
    val statePath = s"$tmp/alert_state"
    val sent = ArrayBuffer[String]()
    cycle(statePath, at, failed = true, sent)
    assert(sent.size == 1)
    // a cycle that fires nothing publishes its state from the driver
    // and reads nothing: no Spark job at all
    val cycleJobs = jobsDuring(cycle(statePath, later(1), failed = true, sent))
    assert(cycleJobs == 0, s"cycle ran $cycleJobs jobs")
    assert(sent.size == 1) // throttled: the kept state carried the clock
    assert(AlertThrottle.loadStateTable(spark, statePath) ==
      Map(1L -> ThrottleState(JobStatus.Failed, at.getTime)))
  }

  test("a saveStateTable made outside the cycle between two cycles is honoured") {
    val tmp = Files.createTempDirectory("graft-cache-outside").toString
    val statePath = s"$tmp/alert_state"
    val sent = ArrayBuffer[String]()
    cycle(statePath, at, failed = true, sent)
    assert(sent.size == 1)
    // another writer resets the job to "never alerted"
    AlertThrottle.saveStateTable(spark, statePath,
      Map(1L -> ThrottleState(JobStatus.Success, Long.MinValue)))
    cycle(statePath, later(1), failed = true, sent)
    assert(sent.size == 2, s"the outside save was ignored: $sent")
    assert(AlertThrottle.loadStateTable(spark, statePath) ==
      Map(1L -> ThrottleState(JobStatus.Failed, later(1).getTime)))
  }

  test("a state directory deleted and re-created at v=0 is read from disk, not the cache") {
    val tmp = Files.createTempDirectory("graft-cache-recreate").toString
    val statePath = s"$tmp/alert_state"
    val sent = ArrayBuffer[String]()
    cycle(statePath, at, failed = true, sent)
    assert(graft.store.VersionedTable.current(spark, statePath).contains(s"$statePath/v=0"))
    assert(new Directory(new java.io.File(statePath)).deleteRecursively())
    // the re-created table reuses v=0: its root names the cached publish
    AlertThrottle.saveStateTable(spark, statePath,
      Map(1L -> ThrottleState(JobStatus.Success, Long.MinValue)))
    assert(graft.store.VersionedTable.current(spark, statePath).contains(s"$statePath/v=0"))
    cycle(statePath, later(1), failed = true, sent)
    assert(sent.size == 2, s"the re-created table was served from the cache: $sent")
    assert(AlertThrottle.loadStateTable(spark, statePath) ==
      Map(1L -> ThrottleState(JobStatus.Failed, later(1).getTime)))
  }
}
