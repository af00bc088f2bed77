package graft.engine

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dsl.{MonitorDsl, TargetLang}
import graft.model.MonitorSpec

/** MonitorSpec → DataFrame plan builder: the Spark-native E1 lifecycle
  * (SURVEY §3). The whole monitor run — window clip, target functions,
  * per-series reductions, threshold — is ONE declarative DataFrame, so
  * Catalyst gets the entire thing: window + metric predicates push into
  * the scan, reductions get map-side partials. No fork/exec, no per-run
  * HTTP, no sandbox interpreter (contrast: reference stages 2-5, which
  * cross two process boundaries per run). The plan runs codegen'd in the
  * caller's session, except on the scheduled path, which runs it
  * interpreted ([[Runner]]).
  */
object Planner {

  /** The clipped window [until - minutes, until]: P1 applied *before*
    * target compilation, and — via [[graft.store.MetricSource]] — at the
    * storage layer, so the bounds reach the parquet scan as
    * `PushedFilters`. `until` = `to_date` (backtest, ST8) or the
    * caller's now. */
  def clipWindow(source: graft.store.MetricSource, spec: MonitorSpec,
      now: Timestamp): DataFrame = {
    val until = spec.toDate.getOrElse(now)
    val from = new Timestamp(until.getTime - spec.minutes * 60000L)
    source.scan(from, until)
  }

  /** DataFrame convenience overload (tests, ad-hoc frames): post-hoc
    * filter — pushdown is whatever the frame's own scan supports. The
    * hot path should pass a [[graft.store.MetricSource]] instead. */
  def clipWindow(store: DataFrame, spec: MonitorSpec, now: Timestamp): DataFrame =
    clipWindow(graft.store.MetricSource.ofFrame(store), spec, now)

  /** Full plan: per-series reduction rows with a boolean `passed`.
    * Output: (job_id, metric, window_end, red_* ..., passed). */
  def plan(spark: SparkSession, store: DataFrame, spec: MonitorSpec,
      now: Timestamp): DataFrame =
    plan(spark, graft.store.MetricSource.ofFrame(store), spec, now)

  def plan(spark: SparkSession, source: graft.store.MetricSource, spec: MonitorSpec,
      now: Timestamp): DataFrame =
    planImpl(source, spec, now, extraAggs = Nil)

  /** [[plan]] plus a `points` column per series row —
    * `sort_array(collect_list(struct(ts, value)))` — so a monitor run
    * can produce verdicts AND the chart payload from ONE aggregation
    * (one scan of the store per run, not two). Points per row are
    * bounded by the clip window, same bound as the reference's
    * chart-JSON DB column. */
  def planWithPoints(spark: SparkSession, source: graft.store.MetricSource,
      spec: MonitorSpec, now: Timestamp): DataFrame =
    planImpl(source, spec, now,
      extraAggs = Seq(sort_array(collect_list(struct(col("ts"), col("value")))).as("points")))

  /** L1: each stored target line compiles to a series set. Targets are
    * INDEPENDENT series lists (a series matched by two targets is two
    * series, as in the reference's one-target-per-line `metrics`), so
    * rows carry their target index and reductions group on it — a
    * name-only group would merge and double-count overlapping targets. */
  def seriesOf(clipped: DataFrame, spec: MonitorSpec): DataFrame =
    spec.targets.zipWithIndex
      .map { case (t, i) => TargetLang.plan(t, clipped).withColumn("_target", lit(i)) }
      .reduce(_ unionByName _)

  private def planImpl(source: graft.store.MetricSource, spec: MonitorSpec,
      now: Timestamp, extraAggs: Seq[Column]): DataFrame = {
    val until = spec.toDate.getOrElse(now)
    val series = seriesOf(clipWindow(source, spec, now), spec)

    // L3: aggregate exactly the reductions the monitor expression uses.
    val m = MonitorDsl.compileMonitor(spec)
    val aggs = m.aggs ++ extraAggs
    series.groupBy(col("_target"), col("metric"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("passed", m.passed)
      .withColumn("job_id", lit(spec.id))
      .withColumn("window_end", lit(until))
      .drop("_target")
  }
}
