package graft.store

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A metric store the planner can ask for a *window-clipped* scan, so the
  * time predicate is applied where the storage layer can actually use it
  * (parquet row-group pruning / partition pruning), not post-hoc above a
  * conversion expression.
  *
  * This is the E1 hot-path contract: the reference's scheduler fetched
  * `render?from=-Nminutes` per run (reference
  * app/models/monitor_job.rb — from_date/to_date window), i.e. the
  * window reached Graphite's storage layer. The Spark-native equivalent
  * is bounds that land in `PushedFilters` — at 100 TB the difference is
  * "read one hour" vs "read the event log".
  */
trait MetricSource {
  /** (metric, ts, value) rows with `fromInclusive <= ts <= untilInclusive`. */
  def scan(fromInclusive: Timestamp, untilInclusive: Timestamp): DataFrame
}

object MetricSource {

  /** Raw-event-log source: bounds are rewritten to raw-ns longs inside
    * [[Tables.metricStoreWindowed]] and reach the parquet scan as
    * `PushedFilters` (PushdownSpec proves it). */
  def events(spark: SparkSession, dir: String): MetricSource =
    (from, until) => Tables.metricStoreWindowed(spark, dir, from, until)

  /** Wrap an arbitrary (metric, ts, value) frame — rollup tables with a
    * native timestamp column get pushdown for free from the plain
    * filter; in-memory test frames just filter. */
  def ofFrame(df: DataFrame): MetricSource =
    (from, until) => df.filter(col("ts") >= lit(from) && col("ts") <= lit(until))

  /** Day-partitioned 1-minute rollup store written by
    * [[graft.streaming.Ingest.runAvailableNow]]: the window clip
    * ([[DayPartitions.window]]) becomes BOTH a partition filter on
    * `date` (directory pruning) and a row-group filter on the native
    * `ts` — the E1 hot path's 100-TB layout. `value` is the minutely sum (the store's own grain).
    *
    * Each scan reads the store with the schema Ingest writes
    * ([[RollupSchema]]) instead of inferring it, which would cost a
    * Spark job per scan. So a store that exists but holds no data yet
    * (an empty directory, or a stream sink with no committed batch)
    * scans as empty, and every monitor over it gets no series; a store
    * directory that does not exist still fails the scan with
    * `PATH_NOT_FOUND`. */
  def rollup(spark: SparkSession, dir: String): MetricSource =
    (from, until) => spark.read.schema(RollupSchema).parquet(dir)
      .filter(DayPartitions.window(lit(from), lit(until)))
      .select(col("metric"), col("ts"), col("sum_v").as("value"))

  /** The rollup store's columns: [[graft.streaming.Ingest]] writes its
    * rows as this schema and [[rollup]] reads them with it. `date` is
    * the partition column. */
  val RollupSchema: StructType = new StructType()
    .add("metric", StringType).add("ts", TimestampType).add("n", LongType)
    .add("sum_v", DoubleType).add("min_v", DoubleType).add("max_v", DoubleType)
    .add("date", DateType)
}
