package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.{Instant, LocalDateTime, ZoneId}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.store.{MetricSource, Rollups}
import graft.streaming.Ingest

/** Day-partition pruning does not depend on the session time zone: a
  * store written under one zone (`date = to_date(ts)` in the writer's
  * zone) and read under another returns, for every window, exactly the
  * rows of the same scan without the `date` predicate. The zones cover
  * the extreme offsets (`Etc/GMT+12` is UTC−12, `Pacific/Kiritimati`
  * UTC+14) and the 2024-03-10 `America/New_York` DST change. */
class DayPruningSpec extends SparkTestBase {

  private val TzConf = "spark.sql.session.timeZone"

  private def inZone[T](zone: String)(body: => T): T = {
    val saved = spark.conf.get(TzConf)
    spark.conf.set(TzConf, zone)
    try body finally spark.conf.set(TzConf, saved)
  }

  /** One event every 7 minutes from 2024-03-08T00:00Z to 2024-03-12T00:00Z
    * over two event types, as a single `events.parquet` file. */
  private lazy val eventsDir: String = {
    import spark.implicits._
    val start = Instant.parse("2024-03-08T00:00:00Z").getEpochSecond
    val rows = (0 until 4 * 1440 / 7).map { i =>
      (i.toLong, new Timestamp((start + i * 420L) * 1000L), i % 13L,
        if (i % 2 == 0) "click" else "view", (i % 10).toDouble, "")
    }
    val tmp = Files.createTempDirectory("graft-daypruning").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$tmp/raw")
    val part = new java.io.File(s"$tmp/raw").listFiles().find(_.getName.endsWith(".parquet")).get
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/src"))
    Files.move(part.toPath, java.nio.file.Paths.get(s"$tmp/src/events.parquet"))
    s"$tmp/src"
  }

  private val writers = Seq("UTC", "Etc/GMT+12", "Pacific/Kiritimati", "America/New_York")

  private val pairs = Seq(
    "UTC" -> "Pacific/Kiritimati",
    "Etc/GMT+12" -> "Pacific/Kiritimati",
    "Pacific/Kiritimati" -> "Etc/GMT+12",
    "America/New_York" -> "UTC",
    "UTC" -> "America/New_York",
    "America/New_York" -> "Pacific/Kiritimati",
    "Pacific/Kiritimati" -> "America/New_York")

  /** Windows as instants: local midnights of the extreme zones, the New
    * York DST change (07:00Z), a UTC midnight and a whole UTC day. */
  private val windows = Seq(
    "2024-03-09T10:00:00Z" -> "2024-03-09T11:00:00Z",
    "2024-03-09T11:30:00Z" -> "2024-03-09T12:30:00Z",
    "2024-03-10T06:30:00Z" -> "2024-03-10T07:30:00Z",
    "2024-03-10T04:00:00Z" -> "2024-03-10T09:00:00Z",
    "2024-03-10T23:00:00Z" -> "2024-03-11T01:00:00Z",
    "2024-03-09T00:00:00Z" -> "2024-03-10T00:00:00Z")
    .map { case (a, b) => (Instant.parse(a), Instant.parse(b)) }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def local(i: Instant, zone: String): String =
    LocalDateTime.ofInstant(i, ZoneId.of(zone))
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))

  test("Ingest rollup store, writer x reader zones: MetricSource.rollup window scan == the scan without the date predicate") {
    val tmp = Files.createTempDirectory("graft-daypruning-ingest").toString
    val stores = writers.map { w =>
      val out = s"$tmp/${w.replace('/', '_')}"
      inZone(w)(Ingest.runAvailableNow(spark, eventsDir, out, s"$out-ckpt"))
      w -> out
    }.toMap
    for ((w, r) <- pairs; (from, until) <- windows) inZone(r) {
      val (f, u) = (Timestamp.from(from), Timestamp.from(until))
      val got = MetricSource.rollup(spark, stores(w)).scan(f, u)
      val want = spark.read.schema(MetricSource.RollupSchema).parquet(stores(w))
        .filter(col("ts") >= lit(f) && col("ts") <= lit(u))
        .select(col("metric"), col("ts"), col("sum_v").as("value"))
      val wanted = rows(want)
      assert(wanted.nonEmpty, s"window $from..$until holds no rows")
      assert(rows(got) == wanted, s"writer $w, reader $r, window $from..$until")
    }
  }

  test("materialized rollups, writer x reader zones: minutelyClipped and asMetricSource == the scan without the date predicate") {
    val tmp = Files.createTempDirectory("graft-daypruning-rollup").toString
    val stores = writers.map { w =>
      val out = s"$tmp/${w.replace('/', '_')}"
      inZone(w)(Rollups.materializeMinutely(spark, eventsDir, out))
      w -> out
    }.toMap
    for ((w, r) <- pairs; (from, until) <- windows) inZone(r) {
      val all = Rollups.minutely(spark, stores(w))
      // string bounds read in the reader's zone, [from, until)
      val (fs, us) = (local(from, r), local(until, r))
      val wanted = rows(all.filter(col("ts") >= lit(fs) && col("ts") < lit(us)))
      assert(wanted.nonEmpty, s"window $from..$until holds no rows")
      assert(rows(Rollups.minutelyClipped(spark, stores(w), fs, us)) == wanted,
        s"minutelyClipped: writer $w, reader $r, window $from..$until")
      val (f, u) = (Timestamp.from(from), Timestamp.from(until))
      assert(rows(Rollups.asMetricSource(spark, stores(w)).scan(f, u)) ==
        rows(all.filter(col("ts") >= lit(f) && col("ts") <= lit(u))
          .select(col("metric"), col("ts"), col("sum_dec").cast("double").as("value"))),
        s"asMetricSource: writer $w, reader $r, window $from..$until")
    }
  }
}
