package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.store.MetricSource

/** Structured-Streaming ingest (ST7): events → 1-minute pre-aggregated
  * metric rollups, the store layout every monitor query reads
  * (SURVEY §4.4). The reference never ingested (Graphite owned
  * storage); at 100 TB this rollup is what keeps monitor windows
  * KB-sized: queries touch (metric, minute) rollups, never raw events.
  *
  * Watermarking (ST4) drops events later than the lateness bound, the
  * streaming twin of Graphite's "newest buckets are incomplete" rule
  * (P5 trailing-null trim in batch).
  */
object Ingest {

  /** Raw events schema — `ts` has shipped as TIMESTAMP(NANOS) (readable
    * only as int64 under the legacy conf) and as TIMESTAMP(MICROS)
    * without a UTC flag (read as TIMESTAMP_NTZ); a streaming source
    * needs the schema up front, so probe the stored type with a batch
    * metadata read and declare what the files actually contain. */
  def eventsSchema(tsType: org.apache.spark.sql.types.DataType): StructType =
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))

  /** The streaming rollup DataFrame (unstarted). */
  def rollupStream(spark: SparkSession, srcDir: String,
      lateness: String = "2 minutes"): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = spark.read.option("pathGlobFilter", "events.parquet")
      .parquet(srcDir).schema("ts").dataType
    val tsAsTimestamp = tsType match {
      case LongType => timestamp_micros(expr("ts div 1000"))
      case org.apache.spark.sql.types.TimestampNTZType => col("ts").cast("timestamp")
      case _ => col("ts")
    }
    spark.readStream
      .schema(eventsSchema(tsType))
      // the source wants a directory to monitor; testdata ships one file
      .option("pathGlobFilter", "events.parquet")
      .parquet(srcDir)
      .select(
        concat(lit("events."), col("event_type")).as("metric"),
        tsAsTimestamp.as("ts"),
        col("value"))
      .withWatermark("ts", lateness)
      .groupBy(col("metric"), window(col("ts"), "1 minute").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_v"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"))
      .select(col("metric"), col("w.start").as("ts"),
        col("n"), col("sum_v"), col("min_v"), col("max_v"))
  }

  /** Rollup-store compaction — the small-files maintenance job. Every
    * micro-batch appends one file per day partition it touches; after a
    * week of 1-minute triggers a day directory holds thousands of tiny
    * files and scan planning dominates query time. This folds the store
    * (directory-listed or a FileStreamSink output) into a SEPARATE
    * day-partitioned serving table, one file per day, rows preserved
    * exactly. The source is never modified: a stream sink's
    * `_spark_metadata` log would otherwise point at deleted files, and
    * a crash mid-compaction loses nothing a re-run cannot rebuild.
    * Dynamic partition overwrite means re-running for new days never
    * touches already-compacted ones. */
  def compactRollupsTo(spark: SparkSession, srcDir: String, destDir: String,
      beforeDate: Option[java.sql.Date] = None): Unit = {
    val df0 = spark.read.parquet(srcDir)
    val df = beforeDate.fold(df0)(d => df0.filter(col("date") < lit(d)))
    val saved = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      df.repartition(col("date"))
        .write.mode("overwrite").partitionBy("date").parquet(destDir)
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Streaming exact dedup (the ingest twin of Dedup.exact / x1): drop
    * repeated keys as they arrive, with state bounded by the watermark
    * horizon — `dropDuplicatesWithinWatermark` keeps a key's state only
    * until the watermark passes its event time, so at 100 TB/day the
    * dedup state is "lateness window × arrival rate", not the corpus.
    * Exactly-once duplicates (redelivered batches, at-least-once
    * sources) collapse; true re-occurrences outside the horizon are a
    * batch-layer concern ([[graft.ext.Dedup.exact]] over the store). */
  def dedupStream(stream: DataFrame, keyCols: Seq[String], tsCol: String,
      lateness: String): DataFrame =
    stream
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Drain everything currently available into the rollup store and
    * stop — `Trigger.AvailableNow` gives the deterministic batch-like
    * semantics tests need while exercising the real streaming path
    * (incremental state, watermark, checkpoint).
    *
    * The store is PARTITIONED BY day (SURVEY §4.4's `(date, ...)`
    * layout): a monitor window's scan prunes to its day directories
    * before parquet even opens a footer — at 100 TB that is the
    * difference between listing two days and listing years. Read it
    * through [[graft.store.MetricSource.rollup]]; the rows are written
    * as its [[graft.store.MetricSource.RollupSchema]], the one
    * definition of the store's columns. */
  def runAvailableNow(spark: SparkSession, srcDir: String, outDir: String,
      checkpointDir: String): Unit = {
    val q = rollupStream(spark, srcDir)
      .withColumn("date", to_date(col("ts")))
      .select(MetricSource.RollupSchema.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("date")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
