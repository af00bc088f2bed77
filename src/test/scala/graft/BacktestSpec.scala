package graft

import java.sql.Timestamp

import graft.engine.{Backtest, Runner}
import graft.model.MonitorSpec
import graft.store.{MetricSource, Tables}

/** ST8 sweep: the one-plan historical backtest must agree with a loop
  * of single evaluations at every grid window end — same reductions,
  * same verdicts, from one shuffle instead of W jobs. */
class BacktestSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private lazy val source = MetricSource.events(spark, dir)

  private val spec = MonitorSpec(
    id = 31, name = "sweep", targets = Seq("events.*"), minutes = 720,
    toDate = None, cronExpr = "0 * * * *",
    monitorExpr = "mean > 2.5 && count > 0")

  test("sweep(E) == evaluate(to_date = E) for every grid end") {
    val from = Timestamp.valueOf("2024-01-10 06:00:00")
    val until = Timestamp.valueOf("2024-01-10 12:00:00")
    val swept = Backtest.sweep(source, spec, from, until, stepMinutes = 120)
      .collect()
      .map { r =>
        (r.getAs[Timestamp]("window_end"), r.getAs[String]("metric"),
          r.getAs[Boolean]("passed"), r.getAs[Double]("red_mean"),
          r.getAs[Long]("red_count"))
      }.toSet
    val ends = (0 to 3).map(k => new Timestamp(from.getTime + k * 120L * 60000L))
    val looped = ends.flatMap { e =>
      val df = graft.engine.Planner.plan(spark, source, spec.copy(toDate = Some(e)), e)
      df.collect().map { r =>
        (e, r.getAs[String]("metric"), r.getAs[Boolean]("passed"),
          r.getAs[Double]("red_mean"), r.getAs[Long]("red_count"))
      }
    }.toSet
    assert(swept.nonEmpty)
    // exact equality: decimal-sum reductions are bit-deterministic
    assert(swept == looped,
      s"sweep≠loop: only-in-sweep=${swept -- looped}, only-in-loop=${looped -- swept}")
  }

  test("a failing historical window is visible in the sweep") {
    // threshold nothing can pass → every window fails but rows exist
    val failing = spec.copy(monitorExpr = "mean > 1000000")
    val out = Backtest.sweep(source, failing,
      Timestamp.valueOf("2024-01-10 06:00:00"),
      Timestamp.valueOf("2024-01-10 12:00:00"), stepMinutes = 180).collect()
    assert(out.nonEmpty && out.forall(!_.getAs[Boolean]("passed")))
  }

  test("sweep over the day-partitioned rollup store prunes to the sweep's days") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val rollupDir = java.nio.file.Files.createTempDirectory("backtest-rollup").toString
    graft.store.Rollups.materializeMinutely(spark, dir, rollupDir)
    val src = graft.store.Rollups.asMetricSource(spark, rollupDir)
    val from = Timestamp.valueOf("2024-01-10 06:00:00")
    val until = Timestamp.valueOf("2024-01-10 18:00:00")
    val df = Backtest.sweep(src, spec, from, until, stepMinutes = 120)
    df.collect()
    // the sweep's union window is [Jan 9 18:00, Jan 10 18:00] → the scan
    // may list the two touched day directories plus one boundary day on
    // each side (a writer in another zone may have put window rows
    // there), no more
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = {
      (p match {
        case f: FileSourceScanExec => return Seq(f)
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }).flatMap(scans)
    }
    val ss = scans(df.queryExecution.executedPlan)
    assert(ss.nonEmpty)
    ss.foreach { sc =>
      assert(sc.partitionFilters.exists(_.references.exists(_.name == "date")),
        s"no date partition filter:\n$sc")
      val parts = sc.relation.location.listFiles(sc.partitionFilters, sc.dataFilters).size
      assert(parts <= 4, s"two-day sweep window listed $parts day partitions")
    }
    // sweep ≡ evaluate on the rollup source too (same grain, same verdicts)
    val sweptEnd = Backtest.sweep(src, spec, until, until, stepMinutes = 120)
      .collect().map(r => (r.getAs[String]("metric"), r.getAs[Boolean]("passed"),
        r.getAs[Double]("red_mean"))).toSet
    val solo = graft.engine.Planner.plan(spark, src, spec.copy(toDate = Some(until)), until)
      .collect().map(r => (r.getAs[String]("metric"), r.getAs[Boolean]("passed"),
        r.getAs[Double]("red_mean"))).toSet
    assert(sweptEnd == solo && sweptEnd.nonEmpty)
  }

  test("sweep is one job shape: exactly one scan of the event log") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val scans = new AtomicInteger(0)
    def scansIn(p: org.apache.spark.sql.execution.SparkPlan): Int = {
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      val self = p match {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("events.parquet")) => 1
        case _ => 0
      }
      self + (p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }).map(scansIn).sum
    }
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = scans.addAndGet(scansIn(qe.executedPlan))
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Backtest.sweep(source, spec, Timestamp.valueOf("2024-01-10 06:00:00"),
        Timestamp.valueOf("2024-01-11 06:00:00"), stepMinutes = 60).collect()
      var last = -1; var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val cur = scans.get()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      assert(scans.get() == 1, s"25-window sweep read the log ${scans.get()} times")
    } finally spark.listenerManager.unregister(listener)
  }
}
