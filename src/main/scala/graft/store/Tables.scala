package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table access layer over the driver-provided parquet directories
  * (TESTDATA.md). One scan definition per table so every query gets the
  * same pruned, pushdown-friendly source.
  *
  * At 100 TB the equivalent store would be partitioned
  * `(date, bucket(metric, N))` and sorted within partitions by
  * `(metric, ts)` (SURVEY §4.4); here the driver ships single parquet
  * files, so the scale story lives in keeping every reader a plain
  * `spark.read.parquet` that Catalyst can prune — no collects, no schema
  * inference, no csv.
  */
object Tables {

  /** Session-scoped table cache (the buffer-pool role): when enabled,
    * each base table is memory-cached on first read so a suite of
    * queries over the same scale factor scans parquet once, not once
    * per query. Off by default — Verify keeps cold plans so pushdown
    * stays visible/exercised; Bench turns it on (DuckDB gets the same
    * effect from its buffer pool + OS page cache). */
  @volatile var cacheEnabled: Boolean = false
  private val cached = scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]

  /** Rows per cache partition for `cpuDense` tables. Measured on the 23
    * document-suite bench queries at sf0.1, min-of-2 per point: off
    * 15.2 s, 512 13.9 s, 1024 13.4–13.6 s (twice), 2048 14.0 s — 1024
    * balances fold parallelism against map-task/shuffle-block fan. */
  private val denseRows = 1024L

  def table(spark: SparkSession, dir: String, name: String,
      cpuDense: Boolean = false): DataFrame =
    if (!cacheEnabled) spark.read.parquet(s"$dir/$name.parquet")
    else cached.getOrElseUpdate((dir, name), {
      // A small-SF parquet file is a handful of row groups, so the scan
      // (and the cache built from it) ends up with 1-3 partitions —
      // a CPU-dense agg then runs near-serial on a 32-core session
      // (measured 5× on the q1 decimal aggregate). Spread the cache at
      // population, capped at the session's parallelism:
      //  - scan/shuffle-bound relational tables size by BYTES (~1 MB
      //    compressed per partition) — finer splits only multiply map
      //    tasks and shuffle blocks (measured: a rows-based split of
      //    events/lineitem regressed the tiny shuffle queries 2×);
      //  - `cpuDense` payload tables (text, vectors) size by ROWS
      //    (~1024/partition, `denseRows`): they compress so well that byte-sizing
      //    left `documents` in ONE partition and every per-row fold
      //    (Gopher gates, shingling, LM grams) ran serial on 32 cores
      //    (measured: the x19 fold at sf0.1 dropped 1.16 s → 0.42 s).
      // At production scale files outnumber cores and this is a no-op.
      // Decimal-exact sums keep answers identical under the reshuffle.
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      val bytes = new java.io.File(s"$dir/$name.parquet").length()
      val sized = if (cpuDense) raw.count() / denseRows else bytes >> 20
      val p = math.min(spark.sparkContext.defaultParallelism.toLong,
        math.max(1L, sized)).toInt
      (if (raw.rdd.getNumPartitions < p) raw.repartition(p) else raw).cache()
    })

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** `events.ts` has shipped in two physical forms across testdata
    * generations: TIMESTAMP(NANOS) — which Spark only reads as raw long
    * ns under the legacy conf, truncated here to micros with integer
    * division (the same truncation DuckDB applies reading ns into its µs
    * TIMESTAMP; double division would lose precision, 2024 epoch-ns ≈
    * 1.7e18 > 2^53) — and TIMESTAMP(MICROS) without a UTC flag, which
    * Spark reads as TIMESTAMP_NTZ. Both normalize to the session
    * TimestampType; under the pinned UTC session zone the NTZ cast is a
    * wall-clock identity, so either generation yields the timestamps
    * DuckDB sees. */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(table(spark, dir, "events"))
  }

  /** Epoch micros of a Timestamp (µs precision — the store's own). */
  private def usOf(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + t.getNanos / 1000 % 1000

  /** Window-clipped events scan with PUSHDOWN: predicates on the
    * *converted* `ts` cannot reach parquet (the scan column sits under a
    * conversion expression — see the plan for s1_window_scan), so this
    * helper filters on the NATIVE stored type first — raw long ns
    * (`ts_ns div 1000 >= T_us  ⇔  ts_ns >= T_us * 1000` for the
    * truncating div) or an NTZ literal — which lands in PushedFilters
    * and prunes row groups. At 100 TB the monitor path reads
    * Ingest-materialized rollups whose `ts` is a native timestamp column
    * (pushdown is free there); this matters for pipelines over the raw
    * event log. */
  private def ntzLit(us: Long): org.apache.spark.sql.Column =
    lit(java.time.LocalDateTime.ofEpochSecond(
      java.lang.Math.floorDiv(us, 1000000L),
      (java.lang.Math.floorMod(us, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC))

  private def eventsRawWindowed(spark: SparkSession, dir: String,
      fromUs: Long, untilUsExclusive: Long): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.where(col("ts") >= lit(fromUs * 1000L) &&
            col("ts") < lit(untilUsExclusive * 1000L))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.where(col("ts") >= ntzLit(fromUs) && col("ts") < ntzLit(untilUsExclusive))
          .withColumn("ts", col("ts").cast("timestamp"))
      case _ =>
        raw.where(col("ts") >= timestamp_micros(lit(fromUs)) &&
          col("ts") < timestamp_micros(lit(untilUsExclusive)))
    }
  }

  def eventsWindowed(spark: SparkSession, dir: String,
      fromInclusive: java.sql.Timestamp, untilExclusive: java.sql.Timestamp): DataFrame =
    eventsRawWindowed(spark, dir, usOf(fromInclusive), usOf(untilExclusive))

  /** Inclusive-upper variant (monitor windows are `[from, until]`):
    * `ts_µs <= U  ⇔  ts_ns < (U+1)·1000` for the truncating div. */
  def eventsWindowedInclusive(spark: SparkSession, dir: String,
      fromInclusive: java.sql.Timestamp, untilInclusive: java.sql.Timestamp): DataFrame =
    eventsRawWindowed(spark, dir, usOf(fromInclusive), usOf(untilInclusive) + 1L)
  def documents(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents", cpuDense = true)
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings", cpuDense = true)

  /** The long-format metric store: `(metric, ts, value)`.
    *
    * Plays the role Graphite played for the reference (README.md:6): the
    * `events` stream is exposed as one series per event type under the
    * `events.` namespace — the shape every SeriesOps operator consumes.
    * The projection happens before any filter/agg so Catalyst pushes the
    * `event_type`/`ts` predicates into the parquet scan.
    */
  private def asMetricStore(events: DataFrame): DataFrame =
    events.select(
      concat(lit("events."), col("event_type")).as("metric"),
      col("ts"),
      col("value"))

  def metricStore(spark: SparkSession, dir: String): DataFrame =
    asMetricStore(events(spark, dir))

  /** Window-clipped metric store (both bounds inclusive) whose time
    * predicate reaches the parquet scan as raw-ns `PushedFilters` — the
    * E1 monitor hot path MUST read through this (or a rollup table with
    * a native timestamp), never filter post-conversion: at 100 TB a
    * post-conversion filter re-reads the entire event log per run. */
  def metricStoreWindowed(spark: SparkSession, dir: String,
      fromInclusive: java.sql.Timestamp, untilInclusive: java.sql.Timestamp): DataFrame =
    asMetricStore(eventsWindowedInclusive(spark, dir, fromInclusive, untilInclusive))

  /** Metric store with a deeper path (`events.<type>.u<user bucket>`),
    * used by path-manipulation operators (aliasByNode, deep globs). */
  private def asDeepMetricStore(events: DataFrame): DataFrame =
    events.select(
      concat(lit("events."), col("event_type"), lit(".u"), col("user_id") % 10).as("metric"),
      col("ts"),
      col("value"))

  def metricStoreDeep(spark: SparkSession, dir: String): DataFrame =
    asDeepMetricStore(events(spark, dir))

  /** Window-clipped deep store, `[from, untilExclusive)` — bounds reach
    * the scan as raw-ns PushedFilters (same mechanics as
    * [[metricStoreWindowed]]). */
  def metricStoreDeepWindowed(spark: SparkSession, dir: String,
      fromInclusive: java.sql.Timestamp, untilExclusive: java.sql.Timestamp): DataFrame =
    asDeepMetricStore(eventsWindowed(spark, dir, fromInclusive, untilExclusive))
}
