package graft.store

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The window clip of every day-partitioned store read: the rollup
  * stores [[graft.streaming.Ingest]] and [[Rollups.materializeMinutely]]
  * write, partitioned by `date = to_date(ts)`.
  *
  * `to_date` takes the WRITER session's time zone, which the reader
  * cannot know, so a reader-zone `to_date(from)` bound drops rows
  * whenever the reader's zone is ahead of the writer's. The bound here
  * is the UTC date of the same instants the `ts` filter uses, widened
  * by one day on each side: every zone offset is under 24 hours, so a
  * row's writer-local date is within one day of its UTC date, and the
  * exact `ts` filter still decides each row. The date bounds
  * constant-fold, so they reach the scan as partition filters. */
object DayPartitions {

  /** `from <= ts <= until` (`ts < until` when `untilExclusive`) on a
    * store with `date` and `ts` columns, plus the zone-independent
    * `date` bound. `from`/`until` are timestamp (or timestamp-string)
    * literals, read in the session zone like the `ts` comparison. */
  def window(from: Column, until: Column, untilExclusive: Boolean = false): Column = {
    val (upper, last) =
      if (untilExclusive)
        (col("ts") < until, timestamp_micros(unix_micros(until.cast("timestamp")) - 1))
      else (col("ts") <= until, until)
    col("date") >= date_sub(utcDate(from), 1) && col("date") <= date_add(utcDate(last), 1) &&
      col("ts") >= from && upper
  }

  private def utcDate(ts: Column): Column =
    date_from_unix_date(floor(unix_seconds(ts.cast("timestamp")) / 86400).cast("int"))
}
