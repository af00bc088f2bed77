package graft.engine

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dsl.MonitorDsl
import graft.model.MonitorSpec
import graft.store.MetricSource

/** ST8 extended: the historical sweep. The reference backtests by
  * pinning `to_date` (db/schema.rb:68) and re-running the monitor once
  * per window. This runs the WHOLE sweep — every grid window end in
  * [from, until] — as ONE Catalyst plan:
  *
  * each point explodes into the ≤ window/step grid ends whose window
  * contains it (pure codegen arithmetic, ≤ minutes/step rows per
  * point), then one groupBy(window_end, target, metric) applies the
  * monitor's reductions. No driver loop, no range join, one shuffle —
  * a 30-day hourly backtest is the same job shape as a single run,
  * just W× the aggregate keys. Window semantics match
  * [[Planner.clipWindow]] exactly: [end − minutes, end], both ends
  * inclusive, so sweep(E) ≡ evaluate(to_date = E) for every grid E
  * (BacktestSpec proves it).
  */
object Backtest {

  /** Verdict rows for every window end `from + k·step ≤ until`.
    * Output: (job_id, metric, window_end, red_*, passed). */
  def sweep(source: MetricSource, spec: MonitorSpec,
      from: Timestamp, until: Timestamp, stepMinutes: Int): DataFrame = {
    require(stepMinutes > 0, "stepMinutes must be positive")
    val winS = spec.minutes * 60L
    val stepS = stepMinutes * 60L
    val fromS = from.getTime / 1000L
    val untilS = until.getTime / 1000L
    require(untilS >= fromS, "until before from")

    // one clipped scan covers the whole sweep (bounds → PushedFilters)
    val clipped = source.scan(new Timestamp(from.getTime - winS * 1000L), until)
    val series = Planner.seriesOf(clipped, spec)

    val m = MonitorDsl.compileMonitor(spec)

    // grid ends whose window [end-win, end] contains ts:
    //   max(ts, from) ≤ end ≤ min(ts + win, until), end ≡ from (mod step)
    // integer arithmetic on epoch seconds (≈2^31 — no overflow anywhere)
    val tsS = unix_timestamp(col("ts"))
    // smallest grid end ≥ max(ts, from): ceil-div on the nonneg offset
    val loOff = greatest(tsS - lit(fromS), lit(0L))
    val firstEnd = lit(fromS) + floor((loOff + lit(stepS - 1)) / lit(stepS)) * lit(stepS)
    // largest grid end ≤ min(ts + win, until)
    val hiOff = least(tsS + lit(winS), lit(untilS)) - lit(fromS)
    val lastEnd = lit(fromS) + floor(hiOff / lit(stepS)) * lit(stepS)
    val exploded = series
      .withColumn("_wend",
        explode(when(firstEnd <= lastEnd,
          sequence(firstEnd.cast("long"), lastEnd.cast("long"), lit(stepS)))
          .otherwise(array().cast("array<long>"))))
      // the grid math floors ts to seconds; re-check membership at full
      // timestamp precision so a point 0.5 s past a grid end cannot
      // leak into that end's window (sweep(E) must equal evaluate(E))
      .filter(col("ts") <= timestamp_seconds(col("_wend")) &&
        col("ts") >= timestamp_seconds(col("_wend") - lit(winS)))

    exploded.groupBy(col("_wend"), col("_target"), col("metric"))
      .agg(m.aggs.head, m.aggs.tail: _*)
      .withColumn("passed", m.passed)
      .withColumn("job_id", lit(spec.id))
      .withColumn("window_end", timestamp_seconds(col("_wend")))
      .drop("_wend", "_target")
  }
}
