package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.engine.Scheduler
import graft.model.{JobStatus, MonitorSpec}
import graft.state.AlertSinks

/** A tick's runs persist as one group: one `job_data` append and at
  * most one `job_errors` append, and a run is done (status, throttle
  * cycle, page) only once its group has committed. */
class GroupCommitSpec extends SparkTestBase {

  private val at = Timestamp.valueOf("2024-01-15 12:00:00")

  private def cohort(id: Long, expr: String) = MonitorSpec(
    id = id, name = s"group$id", targets = Seq("m.*"), minutes = 240, toDate = None,
    cronExpr = "*/5 * * * *", monitorExpr = expr, alertKeys = Seq("mailto:oncall@example.com"))

  /** Two series of positive values over the two hours before `at`. */
  private lazy val source = {
    import spark.implicits._
    graft.store.MetricSource.ofFrame((for {
      m <- Seq("m.a", "m.b")
      i <- 0 until 120
    } yield (m, new Timestamp(at.getTime - i * 60000L), 1.0 + i % 7))
      .toDF("metric", "ts", "value"))
  }

  private def scheduler(tmp: String, sent: ConcurrentLinkedQueue[String]) =
    Scheduler.forSourceWithAlerts(spark, source,
      s"$tmp/job_data", s"$tmp/job_errors", s"$tmp/alert_state", s"$tmp/deliveries",
      AlertSinks.default(sent.add(_)), parallelism = 2)

  test("a failing group write fails every run of its group, and none of them pages") {
    val tmp = Files.createTempDirectory("graft-group-fail").toString
    // the job_errors append fails: its root is a regular file
    Files.write(new java.io.File(s"$tmp/job_errors").toPath, "x".getBytes("UTF-8"))
    val sent = new ConcurrentLinkedQueue[String]()
    val sch = scheduler(tmp, sent)
    // one passing run and two failing ones: only the failing ones have
    // job_errors rows, but the passing one shares their group
    Seq(cohort(1, "count > 0"), cohort(2, "mean > 1000000"), cohort(3, "count < 0"))
      .foreach(sch.register(_, at.toInstant.minusSeconds(60)))
    val (fired, _) = sch.tick(at.toInstant); sch.awaitIdle()
    assert(fired == Seq(1L, 2L, 3L))
    assert(sch.snapshot.map(s => s.jobId -> s.lastStatus).toMap ==
      Map(1L -> JobStatus.Error, 2L -> JobStatus.Error, 3L -> JobStatus.Error))
    // no run of the group reached the throttle cycle
    assert(sent.isEmpty, sent.toString)
    assert(!Files.exists(new java.io.File(s"$tmp/deliveries").toPath))
    assert(graft.state.AlertThrottle.loadStateTable(spark, s"$tmp/alert_state").isEmpty)
    sch.shutdown()
  }

  test("a cohort tick writes job_data in one job and job_errors in one job") {
    val tmp = Files.createTempDirectory("graft-group-jobs").toString
    val sc = spark.sparkContext
    // the plan of every SQL execution, and the execution of every job
    val plans = new ConcurrentHashMap[Long, String]()
    val jobs = new ConcurrentLinkedQueue[(Option[Long], String)]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => plans.put(x.executionId, x.physicalPlanDescription)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        jobs.add((props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong), props.map(_.getProperty("spark.job.description")).orNull))
      }
    }
    val sent = new ConcurrentLinkedQueue[String]()
    val sch = scheduler(tmp, sent)
    // five runs, three of them failing with job_errors rows
    Seq(cohort(1, "count > 0"), cohort(2, "mean > 1000000"), cohort(3, "count < 0"),
      cohort(4, "mean > 0"), cohort(5, "max < 0"))
      .foreach(sch.register(_, at.toInstant.minusSeconds(60)))
    sc.addSparkListener(listener)
    try {
      sch.tick(at.toInstant); sch.awaitIdle()
      sc.setJobDescription("after-tick")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      // the bus delivers in order: once the marker is seen, so is every
      // job and execution the tick started
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (!jobs.asScala.exists(_._2 == "after-tick") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(jobs.asScala.exists(_._2 == "after-tick"), "the marker job never arrived")
      def writeJobs(table: String) = jobs.asScala.count { case (exec, _) =>
        exec.flatMap(id => Option(plans.get(id))).exists(p =>
          p.contains("InsertIntoHadoopFsRelationCommand") && p.contains(s"$tmp/$table"))
      }
      assert(sch.snapshot.map(_.lastStatus) == Seq(JobStatus.Success, JobStatus.Failed,
        JobStatus.Failed, JobStatus.Success, JobStatus.Failed))
      assert(writeJobs("job_data") == 1)
      assert(writeJobs("job_errors") == 1)
    } finally sc.removeSparkListener(listener)
    // every run still holds its own job_id partition, one row each
    val rows = spark.read.parquet(s"$tmp/job_data").collect()
      .map(_.getAs[Number]("job_id").longValue).sorted.toSeq
    assert(rows == Seq(1L, 2L, 3L, 4L, 5L))
    assert(spark.read.parquet(s"$tmp/job_errors").select("job_id").distinct().collect()
      .map(_.getAs[Number](0).longValue).sorted.toSeq == Seq(2L, 3L, 5L))
    assert(sent.size == 3, sent.toString)
    sch.shutdown()
  }
}
