package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.store.Tables
import graft.streaming.Ingest

class IngestSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("ST7: AvailableNow streaming rollup matches the batch rollup for closed windows") {
    val tmp = Files.createTempDirectory("graft-ingest")
    val out = s"$tmp/rollup"
    Ingest.runAvailableNow(spark, dir, out, s"$tmp/ckpt")

    val streamed = spark.read.parquet(out)
    assert(streamed.count() > 0)

    // batch twin of the same rollup
    val batch = Tables.metricStore(spark, dir)
      .groupBy(col("metric"), date_trunc("minute", col("ts")).as("ts"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_v"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"))

    // append-mode + watermark withholds windows newer than
    // max(ts) - lateness: the streaming analogue of P5's trailing-bucket
    // trim. Every emitted row must match its batch twin exactly…
    val joined = streamed.as("s").join(batch.as("b"), Seq("metric", "ts"))
    assert(joined.count() == streamed.count(), "streamed row missing from batch rollup")
    val mismatched = joined.filter(
      col("s.n") =!= col("b.n") || col("s.sum_v") =!= col("b.sum_v") ||
        col("s.min_v") =!= col("b.min_v") || col("s.max_v") =!= col("b.max_v"))
    assert(mismatched.count() == 0)

    // …and only the watermark-held tail may be absent.
    val maxTs = batch.agg(max(col("ts"))).head.getTimestamp(0).getTime
    val missing = batch.join(streamed, Seq("metric", "ts"), "left_anti")
    val tooOldMissing = missing.filter(col("ts") < lit(new java.sql.Timestamp(maxTs - 10 * 60000L)))
    assert(tooOldMissing.count() == 0, "closed window missing from streamed rollup")
  }

  test("rollup store is day-partitioned and the monitor clip prunes to its days") {
    import java.sql.Timestamp
    val tmp = Files.createTempDirectory("graft-ingest3")
    val out = s"$tmp/rollup"
    Ingest.runAvailableNow(spark, dir, out, s"$tmp/ckpt")

    // physical layout: one directory per day
    val dayDirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("date=")).sorted
    assert(dayDirs.length > 1, s"expected day directories, got ${dayDirs.mkString(",")}")

    // a one-day window reads a bounded slice through the partition filter
    val src = graft.store.MetricSource.rollup(spark, out)
    val clipped = src.scan(Timestamp.valueOf("2024-01-10 00:00:00"),
      Timestamp.valueOf("2024-01-10 23:59:00"))
    clipped.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      val self = p match {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case _ => Nil
      }
      self ++ (p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }).flatMap(scans)
    }
    val scan = scans(clipped.queryExecution.executedPlan)
    assert(scan.nonEmpty)
    scan.foreach { s =>
      assert(s.partitionFilters.exists(_.references.exists(_.name == "date")),
        s"no date partition filter:\n$s")
      // the window's UTC day plus one boundary day on each side: the
      // writer's zone may put a row of the window on either neighbour
      val parts = s.relation.location.listFiles(s.partitionFilters, s.dataFilters).size
      assert(parts <= 3, s"one-day clip listed $parts day partitions")
    }

    // and the monitor path over the rollup agrees with the raw-event path
    // (same window, same reductions, rollup grain = minutely sums)
    val spec = graft.model.MonitorSpec(id = 21, name = "rollup-mon",
      targets = Seq("events.*"), minutes = 120,
      toDate = Some(Timestamp.valueOf("2024-01-10 12:00:00")),
      cronExpr = "*/5 * * * *", monitorExpr = "sum > 0 && count > 0")
    val viaRollup = graft.engine.Runner.evaluate(spark, src, spec,
      Timestamp.valueOf("2024-01-10 12:00:00"))
    val viaEvents = graft.engine.Runner.evaluate(spark,
      graft.store.MetricSource.events(spark, dir), spec,
      Timestamp.valueOf("2024-01-10 12:00:00"))
    assert(viaRollup.nonEmpty)
    assert(viaRollup.map(v => (v.metric, v.passed)).sorted ==
      viaEvents.map(v => (v.metric, v.passed)).sorted)
  }

  test("rollup compaction: one file per day, rows byte-identical, pruning intact") {
    val tmp = Files.createTempDirectory("graft-compact")
    val out = s"$tmp/rollup"
    // two appends ⇒ ≥2 files per day directory (each with its own rows)
    val rollup = Tables.metricStore(spark, dir)
      .groupBy(col("metric"), date_trunc("minute", col("ts")).as("ts"))
      .agg(count(lit(1)).as("n"))
      .withColumn("date", to_date(col("ts")))
    rollup.write.partitionBy("date").mode("append").parquet(out)
    rollup.limit(500).write.partitionBy("date").mode("append").parquet(out)

    def rowsSorted(path: String) = spark.read.parquet(path)
      .collect().map(_.toString).sorted.toSeq
    def filesPerDay(path: String) = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("date="))
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap

    val before = rowsSorted(out)
    assert(filesPerDay(out).values.exists(_ > 1), "fixture should have multi-file days")
    val compacted = s"$tmp/compacted"
    Ingest.compactRollupsTo(spark, out, compacted)
    assert(filesPerDay(compacted).values.forall(_ == 1),
      s"not compacted: ${filesPerDay(compacted)}")
    // content preserved exactly — compaction must not dedup or drop
    assert(rowsSorted(compacted) == before)
    // partition pruning still works on the compacted layout
    val oneDay = spark.read.parquet(compacted)
      .filter(col("date") === java.sql.Date.valueOf("2024-01-10"))
    assert(oneDay.count() > 0 && oneDay.count() < before.size)
  }

  test("stream-sink stores compact into a serving table via compactRollupsTo") {
    val tmp = Files.createTempDirectory("graft-compact2")
    val out = s"$tmp/rollup"
    Ingest.runAvailableNow(spark, dir, out, s"$tmp/ckpt") // writes _spark_metadata
    val serving = s"$tmp/serving"
    Ingest.compactRollupsTo(spark, out, serving)
    // content identical, one file per day, plain directory-listed table
    assert(spark.read.parquet(serving).count() == spark.read.parquet(out).count())
    val days = new java.io.File(serving).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("date="))
    assert(days.nonEmpty)
    assert(days.forall(_.listFiles().count(_.getName.endsWith(".parquet")) == 1))
    // the serving table still drives the monitor source with pruning
    val src = graft.store.MetricSource.rollup(spark, serving)
    assert(src.scan(java.sql.Timestamp.valueOf("2024-01-10 00:00:00"),
      java.sql.Timestamp.valueOf("2024-01-10 23:59:00")).count() > 0)
  }

  test("streaming exact dedup: redelivered keys collapse, state bounded by watermark") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-dedup-stream")
    val ms = MemoryStream[(Long, Timestamp, String)]
    val deduped = Ingest.dedupStream(
      ms.toDF().toDF("event_id", "ts", "payload"),
      keyCols = Seq("event_id"), tsCol = "ts", lateness = "10 minutes")
    def drain(): Unit = {
      val q = deduped.writeStream.format("parquet")
        .option("path", s"$tmp/out").option("checkpointLocation", s"$tmp/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    // batch 1: id 1 delivered twice (at-least-once source), id 2 once
    ms.addData(Seq((1L, ts(0), "a"), (1L, ts(0), "a-dup"), (2L, ts(1), "b")))
    drain()
    // batch 2: id 1 redelivered inside the watermark horizon + fresh id 3
    ms.addData(Seq((1L, ts(2), "a-redelivery"), (3L, ts(3), "c")))
    drain()
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.count() == 3, "duplicates leaked through the streaming dedup")
    assert(out.select("event_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("ST2/ST3: restart from checkpoint is idempotent (no duplicate windows)") {
    val tmp = Files.createTempDirectory("graft-ingest2")
    val out = s"$tmp/rollup"
    Ingest.runAvailableNow(spark, dir, out, s"$tmp/ckpt")
    val n1 = spark.read.parquet(out).count()
    // second run with same checkpoint: no new input → no new rows
    Ingest.runAvailableNow(spark, dir, out, s"$tmp/ckpt")
    val n2 = spark.read.parquet(out).count()
    assert(n1 == n2)
  }

  test("the rollup source reads the store with its written schema, inferring nothing") {
    import java.sql.Timestamp
    val tmp = Files.createTempDirectory("graft-ingest-schema")
    val out = s"$tmp/rollup"
    Ingest.runAvailableNow(spark, dir, out, s"$tmp/ckpt")
    val src = graft.store.MetricSource.rollup(spark, out)
    val (from, until) =
      (Timestamp.valueOf("2024-01-10 00:00:00"), Timestamp.valueOf("2024-01-11 12:00:00"))
    // building the scan launches no schema-inference job
    var clipped: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { clipped = src.scan(from, until) } == 0)
    // the declared columns and types are the ones Ingest wrote
    val inferred = spark.read.parquet(out)
    def columns(t: org.apache.spark.sql.types.StructType) = t.map(f => f.name -> f.dataType)
    assert(columns(inferred.schema) == columns(graft.store.MetricSource.RollupSchema))
    // and the rows are the ones an inferring read returns
    val expected = inferred
      .filter(col("ts") >= lit(from) && col("ts") <= lit(until))
      .select(col("metric"), col("ts"), col("sum_v").as("value"))
    def sorted(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(sorted(clipped).nonEmpty && sorted(clipped) == sorted(expected))

    // a store with no data yet scans as empty; a missing one still fails
    val empty = Files.createTempDirectory("graft-ingest-empty").toString
    assert(graft.store.MetricSource.rollup(spark, empty).scan(from, until).count() == 0)
    val missing = intercept[org.apache.spark.sql.AnalysisException] {
      graft.store.MetricSource.rollup(spark, s"$empty/nosuch").scan(from, until)
    }
    assert(missing.getMessage.contains("PATH_NOT_FOUND"), missing.getMessage)
  }
}
