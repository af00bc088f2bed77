package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Materialized 1-minute rollup store — the batch twin of
  * [[graft.streaming.Ingest.runAvailableNow]] and the table every
  * window/series gate query reads instead of the raw event log.
  *
  * Layout (SURVEY §4.4): day-partitioned parquet
  * `(metric, ts, n, sum_dec, min_v, max_v) PARTITIONED BY (date)`:
  *   - `ts` is a NATIVE timestamp, so window clips push into the scan as
  *     plain `PushedFilters` (no raw-ns rewrite needed — contrast
  *     [[Tables.metricStoreWindowed]], which exists for pipelines that
  *     must read the raw log);
  *   - `date` prunes whole day directories before a footer is opened;
  *   - `sum_dec` is the DECIMAL minute sum, so every downstream re-agg
  *     (hourly, daily, totals) stays exact and partition-order
  *     independent — the same determinism contract as
  *     [[graft.series.SeriesOps.dsum]];
  *   - `n`/`min_v`/`max_v` make count/mean/min/max re-aggregable without
  *     touching raw events.
  *
  * At 100 TB this is the difference between "a monitor window reads KB
  * of rollup" and "every query re-scans and re-aggregates the event
  * log" — the round-3 verdict's last systemic scale gap.
  */
object Rollups {

  /** Build the rollup from the raw event log: ONE full scan, written
    * once per store (amortized setup, like an index build). One file per
    * day directory via the date repartition. */
  def materializeMinutely(spark: SparkSession, eventsDir: String, outDir: String): Unit =
    Tables.metricStore(spark, eventsDir)
      .groupBy(col("metric"), date_trunc("minute", col("ts")).as("ts"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).as("sum_dec"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"))
      .withColumn("date", to_date(col("ts")))
      .repartition(col("date"))
      .write.mode("overwrite").partitionBy("date").parquet(outDir)

  /** Full rollup scan (metric, ts, n, sum_dec, min_v, max_v, date). */
  def minutely(spark: SparkSession, rollupDir: String): DataFrame =
    spark.read.parquet(rollupDir)

  /** Window-clipped rollup scan, `[from, untilExclusive)`: emits BOTH
    * the `date` partition filter (directory pruning) and the native-`ts`
    * filter (row-group pruning) through [[DayPartitions.window]] —
    * RollupsSpec asserts both reach the scan. */
  def minutelyClipped(spark: SparkSession, rollupDir: String,
      from: String, untilExclusive: String): DataFrame =
    minutely(spark, rollupDir).filter(
      DayPartitions.window(lit(from), lit(untilExclusive), untilExclusive = true))

  /** Hourly re-aggregation of the minute rollup (exact: decimal sums of
    * decimal sums). */
  def hourly(spark: SparkSession, rollupDir: String): DataFrame =
    minutely(spark, rollupDir)
      .groupBy(col("metric"), date_trunc("hour", col("ts")).as("ts"))
      .agg(sum(col("sum_dec")).as("value_dec"))

  /** Expose the rollup as a (metric, ts, value) [[MetricSource]] — the
    * serving-path reader for Planner/Backtest (value = minute sum). */
  def asMetricSource(spark: SparkSession, rollupDir: String): MetricSource =
    (fromTs, untilTs) => minutely(spark, rollupDir)
      .filter(DayPartitions.window(lit(fromTs), lit(untilTs)))
      .select(col("metric"), col("ts"), col("sum_dec").cast("double").as("value"))
}
