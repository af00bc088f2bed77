package graft

import org.apache.spark.sql.functions._

import graft.store.{Rollups, Tables}

/** The materialized-rollup store (round-3 verdict item 1): the gate
  * queries' window clips must reach the ROLLUP scan — native-ts
  * PushedFilters plus day-directory partition pruning — and every
  * re-aggregation off the rollup must be exactly equal to computing from
  * the raw event log. */
class RollupsSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private lazy val rollupDir: String = {
    val p = java.nio.file.Files.createTempDirectory("rollups-spec").toString
    Rollups.materializeMinutely(spark, dir, p)
    p
  }

  test("clip pushes native-ts bounds into the rollup parquet scan") {
    val df = Rollups.minutelyClipped(spark, rollupDir,
      "2024-01-10 00:00:00", "2024-01-11 00:00:00")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("GreaterThanOrEqual(ts,"), s"ts lower bound not pushed:\n$plan")
    assert(plan.contains("LessThan(ts,"), s"ts upper bound not pushed:\n$plan")
  }

  test("clip prunes day partitions: only the clipped day dirs are read") {
    val df = Rollups.minutelyClipped(spark, rollupDir,
      "2024-01-10 00:00:00", "2024-01-11 00:00:00")
    val plan = df.queryExecution.executedPlan.toString
    // partition filters on `date` appear in the scan's PartitionFilters
    assert(plan.contains("PartitionFilters") && plan.contains("date"),
      s"date partition filter missing:\n$plan")
    // and the listing the scan actually plans over spans ≤ 3 day dirs:
    // Jan 10 plus one boundary day on each side, where a writer in
    // another zone may have put the window's rows
    df.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
      (p match {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => return Seq(f)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case other => other.children
      }).flatMap(scans)
    }
    val scan = scans(df.queryExecution.executedPlan)
    assert(scan.nonEmpty)
    scan.foreach { sc =>
      val parts = sc.relation.location.listFiles(sc.partitionFilters, sc.dataFilters).size
      assert(parts <= 3, s"one-day clip listed $parts day partitions")
    }
  }

  test("minute rollup re-aggregations are exactly the raw-log answers") {
    val raw = Tables.metricStore(spark, dir)
      .groupBy(col("metric"), date_trunc("hour", col("ts")).as("ts"))
      .agg(count(lit(1)).as("n"),
        graft.series.SeriesOps.dsum(col("value")).as("sum_v"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"))
      .orderBy("metric", "ts").collect()
    val rolled = Rollups.minutely(spark, rollupDir)
      .groupBy(col("metric"), date_trunc("hour", col("ts")).as("ts"))
      .agg(sum(col("n")).as("n"), sum(col("sum_dec")).cast("double").as("sum_v"),
        min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"))
      .orderBy("metric", "ts").collect()
    assert(raw.length == rolled.length && raw.length > 0)
    raw.zip(rolled).foreach { case (a, b) => assert(a == b, s"$a != $b") }
  }

  test("rollup MetricSource serves a clipped (metric, ts, value) window") {
    val src = Rollups.asMetricSource(spark, rollupDir)
    val got = src.scan(
      java.sql.Timestamp.valueOf("2024-01-10 00:00:00"),
      java.sql.Timestamp.valueOf("2024-01-11 00:00:00"))
    assert(got.columns.toSeq == Seq("metric", "ts", "value"))
    val n = got.count()
    val expected = Rollups.minutely(spark, rollupDir)
      .filter(col("ts") >= lit("2024-01-10 00:00:00") && col("ts") <= lit("2024-01-11 00:00:00"))
      .count()
    assert(n == expected && n > 0)
  }
}
