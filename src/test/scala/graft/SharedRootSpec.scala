package graft

import java.io.File
import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.{col, to_json, udf}
import org.apache.spark.sql.graft.EngineSession

import graft.engine.Runner
import graft.engine.Runner.{ChartPoint, ChartSeries}
import graft.model.{JobStatus, MonitorSpec, Verdict}
import graft.state.{AlertDispatcher, AlertThrottle}
import graft.state.AlertDispatcher.Delivery
import graft.store.{SharedRoot, VersionedTable}

/** The driver-side writer of the metadata tables
  * (`store.SharedRoot.append`) leaves what Spark's own
  * `df.write.mode("append").partitionBy(...).parquet` leaves: the same
  * schema, rows, partition directories and parquet footers. A partial
  * file is never read, and an append that throws leaves no file. */
class SharedRootSpec extends SparkTestBase {
  import spark.implicits._

  private val at = Timestamp.valueOf("2024-01-15 12:00:00")

  private def tmp(name: String) = Files.createTempDirectory(s"graft-shared-$name").toString

  private def spec(id: Long) = MonitorSpec(
    id = id, name = s"w$id", targets = Seq("m.*"), minutes = 60, toDate = None,
    cronExpr = "*/5 * * * *", monitorExpr = "mean < 5")

  /** The visible parquet files under `root`, as Spark lists them. */
  private def dataFiles(root: String): Seq[File] =
    Files.walk(new File(root).toPath).iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .toSeq

  /** What a reader sees of the table at `root`, and what its files
    * hold: the read schema, the rows, the partition directories, and
    * each file's parquet schema, Spark row metadata and codecs. */
  private def table(root: String) = {
    val df = spark.read.parquet(root)
    val conf = EngineSession.hadoopConf(spark)
    val footers = dataFiles(root).map { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f.toURI), conf))
      try {
        val meta = reader.getFooter
        val kv = meta.getFileMetaData.getKeyValueMetaData.asScala.toMap
        (meta.getFileMetaData.getSchema.toString,
          kv - "org.apache.spark.version" -> kv.contains("org.apache.spark.version"),
          meta.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet)
      } finally reader.close()
    }
    (df.schema, df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|")),
      dataFiles(root).map(f => new File(root).toPath.relativize(f.getParentFile.toPath)
        .toString).toSet,
      footers.toSet)
  }

  /** `df` appended by Spark's own writer at `root`. */
  private def sparkAppend(df: DataFrame, root: String, partitionBy: String*): Unit =
    df.write.mode(SaveMode.Append).partitionBy(partitionBy: _*).parquet(root)

  private val runs = {
    def verdict(id: Long, metric: String, passed: Boolean) =
      Verdict(id, metric, at, Some(2.5), passed, if (passed) "" else s"w$id: violated")
    val chart = Seq(ChartSeries("m.a", Seq(ChartPoint(at, 1.5), ChartPoint(at, null))))
    Seq(
      Runner.Run(spec(1), Seq(verdict(1, "m.a", passed = true)), chart),
      Runner.Run(spec(2), Seq(verdict(2, "m.a", passed = false),
        verdict(2, "m.b", passed = false)), chart),
      // no series: an Error run, with a null window_end and no chart
      Runner.Run(spec(3), Nil, Nil))
  }

  test("job_data and job_errors rows read back as Spark's own append of the same rows") {
    val dir = tmp("runs")
    Runner.persistRuns(spark, runs, s"$dir/driver/job_data", s"$dir/driver/job_errors")
    // the rows persistRuns builds, appended by Spark
    sparkAppend(runs.map(r => (r.spec.id, r.verdicts.headOption.map(_.windowEnd).orNull,
      Runner.jobStatus(r.verdicts), r.chart)).toDF("job_id", "window_end", "status", "chart")
      .select(col("job_id"), col("window_end"), col("status"), to_json(col("chart")).as("data")),
      s"$dir/spark/job_data", "job_id")
    sparkAppend(Seq((2L, at, "w2: violated", JobStatus.Failed), (2L, at, "w2: violated",
      JobStatus.Failed)).toDF("job_id", "at", "message", "status"),
      s"$dir/spark/job_errors", "job_id")
    val data = table(s"$dir/driver/job_data")
    assert(data == table(s"$dir/spark/job_data"))
    assert(data._3 == Set("job_id=1", "job_id=2", "job_id=3"))
    assert(data._2.exists(r => r(0) == null && r(1) == JobStatus.Error), data._2)
    assert(table(s"$dir/driver/job_errors") == table(s"$dir/spark/job_errors"))
  }

  test("delivery rows whose channel needs escaping land in Spark's partition directories") {
    val dir = tmp("deliveries")
    val deliveries = Seq("a/b", "k=v", "with space", "mailto").zipWithIndex.map {
      case (ch, i) => Delivery(i.toLong, at, ch, s"x$i@y", 1, delivered = i % 2 == 0, s"m$i")
    }
    AlertDispatcher.persist(spark, deliveries, s"$dir/driver")
    sparkAppend(deliveries.toDF(), s"$dir/spark", "channel")
    val driver = table(s"$dir/driver")
    assert(driver == table(s"$dir/spark"))
    assert(driver._3 == Set("channel=a%2Fb", "channel=k%3Dv", "channel=with space",
      "channel=mailto"), driver._3)
  }

  test("a state table version reads back as Spark's write of the same rows") {
    val dir = tmp("state")
    val st = Map(1L -> AlertThrottle.ThrottleState(JobStatus.Failed, at.getTime),
      2L -> AlertThrottle.ThrottleState(AlertThrottle.FailedUnalerted, Long.MinValue))
    val root = AlertThrottle.saveStateTable(spark, s"$dir/driver", st)
    st.toSeq.map { case (j, s) => (j, s.status, s.lastAlertedAtMillis) }
      .toDF("job_id", "status", "last_alerted_ms").coalesce(1).write.parquet(s"$dir/spark")
    assert(table(root) == table(s"$dir/spark"))
    assert(dataFiles(root).size == 1)
    assert(AlertThrottle.loadStateTable(spark, s"$dir/driver") == st)
  }

  test("a hidden in-progress file is read neither by a parquet read nor by latestRuns") {
    val dir = tmp("hidden")
    val jobData = s"$dir/job_data"
    Runner.persistRuns(spark, runs, jobData, s"$dir/job_errors")
    val before = (table(jobData), Runner.latestRuns(spark, jobData).collect().toSet)
    // a half-written file under the name an append writes before its rename
    Files.write(new File(s"$jobData/job_id=2/.part-00000-partial.c000.snappy.parquet").toPath,
      "PAR1 half a footer".getBytes("UTF-8"))
    assert((table(jobData), Runner.latestRuns(spark, jobData).collect().toSet) == before)
  }

  test("an append that throws leaves no visible file") {
    val dir = tmp("throws")
    // the second partition cannot be created: its directory is a file,
    // so the first partition's file is written, then taken back
    val root = new File(s"$dir/job_data")
    assert(root.mkdirs())
    Files.write(new File(root, "job_id=2").toPath, "x".getBytes("UTF-8"))
    intercept[Exception](SharedRoot.append(
      Seq((1L, "a"), (2L, "b"), (1L, "c")).toDF("job_id", "v"), root.toString, "job_id"))
    val left = Files.walk(root.toPath).iterator().asScala.map(_.toFile).filter(_.isFile)
      .map(f => root.toPath.relativize(f.toPath).toString).toSet
    assert(left == Set("job_id=2"), left)
    // a frame whose rows fail to compute writes nothing at all
    val boom = udf((x: Long) => { if (x >= 0) throw new RuntimeException("no rows"); x })
    intercept[Exception](SharedRoot.append(
      Seq((1L, "a")).toDF("job_id", "v").withColumn("job_id", boom(col("job_id"))),
      s"$dir/other", "job_id"))
    assert(!new File(s"$dir/other").exists())
    assert(VersionedTable.current(spark, s"$dir/other").isEmpty)
  }
}
