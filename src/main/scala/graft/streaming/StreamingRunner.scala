package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.dsl.MonitorDsl
import graft.model.MonitorSpec
import graft.state.AlertThrottle
import graft.state.AlertThrottle.RunEvent

/** Continuous monitor evaluation (ST2/ST3/ST4/ST5 end-to-end): the
  * reference's cron-pull loop re-expressed as ONE Structured Streaming
  * query over the metric stream.
  *
  * Stage 1 (stateful, watermarked): sliding event-time windows of
  * `spec.minutes`, sliding every `slide` — the streaming twin of
  * "cron period < window length ⇒ overlapping windows" (ST3) — with
  * the monitor's reductions aggregated per (metric, window).
  * Append mode ⇒ a window only emits once its watermark closes,
  * which is exactly the reference's "don't evaluate incomplete
  * buckets" rule (ST4/P5).
  *
  * Stage 2 (foreachBatch): the closed windows become [[RunEvent]]s and
  * run through the SAME throttle fold as batch mode, with
  * `last_alerted_at` state carried in a small parquet state table —
  * the reference's own design (it kept throttle state in
  * `job_errors.last_alerted_at`, db/schema.rb:43) rather than a second
  * stateful operator in the same query plan. Alerts append to
  * `alertsPath`.
  */
object StreamingRunner {

  /** Stage 1: closed-window verdict stream for one monitor. */
  def verdictStream(stream: DataFrame, spec: MonitorSpec,
      slide: String, lateness: String = "2 minutes"): DataFrame = {
    val m = MonitorDsl.compileMonitor(spec)
    stream
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), s"${spec.minutes} minutes", slide).as("w"), col("metric"))
      .agg(m.aggs.head, m.aggs.tail: _*)
      .withColumn("passed", m.passed)
      .withColumn("job_id", lit(spec.id))
      .select(Seq(col("job_id"), col("metric"), col("w.end").as("window_end"),
        col("passed")) ++ m.reductions.map(r => col(MonitorDsl.redCol(r))): _*)
  }

  /** Stage 1 MULTIPLEXED: ONE stateful query evaluates N monitors that
    * share a window length (one cohort per distinct `minutes`; hundreds
    * of monitors cost as many queries as distinct window lengths, not
    * hundreds). The aggregation state is built ONCE over
    * (window, metric) with the UNION of all specs' reduction columns;
    * the per-job fan-out (`explode`) happens AFTER the aggregate, on
    * closed-window rows — so input rows shuffle once, the state store
    * holds one copy, and each job's `passed` is its own compiled
    * expression selected by job_id. Verdict rows are identical to the
    * single-spec [[verdictStream]] (StreamingRunnerSpec proves it). */
  def multiplexedVerdictStream(stream: DataFrame, specs: Seq[MonitorSpec],
      slide: String, lateness: String = "2 minutes"): DataFrame = {
    require(specs.nonEmpty, "multiplexedVerdictStream: no specs")
    require(specs.map(_.minutes).distinct.size == 1,
      s"one cohort = one window length; got minutes=${specs.map(_.minutes).distinct}")
    val compiled = specs.map(sp => sp.id -> MonitorDsl.compileMonitor(sp))
    val aggOf = compiled.flatMap { case (_, m) => m.reductions.zip(m.aggs) }.toMap
    val allReds = aggOf.keys.toSeq.sorted
    val aggs = allReds.map(aggOf)
    val passedByJob = compiled.foldLeft(lit(null).cast("boolean")) { case (acc, (id, m)) =>
      when(col("job_id") === id, m.passed).otherwise(acc)
    }
    stream
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), s"${specs.head.minutes} minutes", slide).as("w"), col("metric"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("job_id", explode(array(specs.map(sp => lit(sp.id)): _*)))
      .withColumn("passed", passedByJob)
      .select(Seq(col("job_id"), col("metric"), col("w.end").as("window_end"),
        col("passed")) ++ allReds.map(r => col(MonitorDsl.redCol(r))): _*)
  }

  /** Stage 2 wiring: start the full pipeline, appending fired alerts to
    * `alertsPath` parquet.
    *
    * LAYOUT (since r10): one `batch_id=<n>` partition directory per
    * micro-batch (replay-safe overwrite; read with
    * `spark.read.parquet(alertsPath)` — partition discovery adds the
    * `batch_id` column). MIGRATION from the pre-r10 flat layout: Spark
    * refuses to mix flat files and partition dirs under one root
    * (conflicting directory structures), so either move the legacy
    * parquet files into `alertsPath/batch_id=-1/` (they rejoin the
    * table with batch_id -1) or point new runs at a fresh alertsPath.
    *
    * Each micro-batch runs the scheduler's own throttle-and-deliver
    * cycle ([[AlertThrottle.cycle]]): fired alerts are ALSO delivered
    * through `sinks` (S7: channel sinks with bounded retries; no sinks →
    * the stderr log channel) and the per-channel delivery records
    * appended to `deliveryPath` — streaming and scheduled monitors share
    * one throttle clock and one delivery path. Returns the running
    * query (AvailableNow for tests, ProcessingTime in deployment). */
  def start(spark: SparkSession, stream: DataFrame, spec: MonitorSpec,
      slide: String, alertsPath: String, statePath: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      sinks: Seq[graft.state.AlertSink] = Nil,
      deliveryPath: Option[String] = None): StreamingQuery =
    startStream(spark, verdictStream(stream, spec, slide),
      id => if (id == spec.id) Some(spec) else None,
      alertsPath, statePath, checkpoint, trigger, sinks, deliveryPath)

  /** Multiplexed stage-2 wiring: ONE streaming query (one checkpoint,
    * one state store) monitors every spec in the cohort; the shared
    * foreachBatch folds all jobs' events through the common throttle
    * table and routes each alert to its own spec's alert keys. */
  def startMultiplexed(spark: SparkSession, stream: DataFrame,
      specs: Seq[MonitorSpec], slide: String,
      alertsPath: String, statePath: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      sinks: Seq[graft.state.AlertSink] = Nil,
      deliveryPath: Option[String] = None): StreamingQuery = {
    val byId = specs.map(sp => sp.id -> sp).toMap
    startStream(spark, multiplexedVerdictStream(stream, specs, slide), byId.get,
      alertsPath, statePath, checkpoint, trigger, sinks, deliveryPath)
  }

  private def startStream(spark: SparkSession, verdicts: DataFrame,
      specOf: Long => Option[MonitorSpec],
      alertsPath: String, statePath: String, checkpoint: String,
      trigger: Trigger, sinks: Seq[graft.state.AlertSink],
      deliveryPath: Option[String]): StreamingQuery = {
    import spark.implicits._
    verdicts.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // any failing metric fails the job for that window (Runner.jobStatus)
        val events = batch.groupBy(col("job_id"), col("window_end"))
          .agg(min(when(col("passed"), 1).otherwise(0)).as("all_passed"))
          .select(col("job_id"), col("window_end"),
            (col("all_passed") === 0).as("failed"))
          .collect()
          .map(r => RunEvent(r.getLong(0), r.getTimestamp(1), r.getBoolean(2),
            specOf(r.getLong(0)).map(_.errorTimeoutMinutes).getOrElse(60)))
          .toSeq
        // per-batch OVERWRITE keyed by micro-batch id: a crash after
        // the alerts write but before the checkpoint commits re-delivers
        // the batch, and the retry REPLACES its rows instead of appending
        // duplicates. Delivery is at-least-once (AlertThrottle.cycle).
        AlertThrottle.cycle(spark, statePath, events, specOf, sinks, deliveryPath,
          record = _.toDF().write.mode("overwrite").parquet(s"$alertsPath/batch_id=$batchId"))
      }
      .start()
  }
}
