package graft.store

import java.io.IOException
import java.util.UUID

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, GenericInternalRow}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.EngineSession
import org.apache.spark.sql.types.StringType

/** The one write path of the engine's metadata tables: `job_data`,
  * `job_errors`, the delivery audit and the state tables' versions.
  * Their appends are a few driver-local rows each (a tick's runs, its
  * pages, one row per monitor), so they are written on the driver with
  * Spark's own parquet writer, not as a Spark job: no task, no
  * `_temporary` staging, no committer. The Structured Streaming offset
  * and commit logs are written the same way, from the driver.
  *
  * The files are those `df.write.mode("append").partitionBy(...).parquet`
  * writes: the same layout, with partition values escaped as Spark
  * escapes them, and Spark's [[ParquetFileFormat]] write support, so
  * the schema, footer metadata, codec and timestamp type follow the
  * session's confs. Only the write's own copy of the Hadoop conf is
  * changed, never the session's.
  *
  * Each file is written under a hidden name (a leading `.`, which
  * Spark's file listing skips) and renamed to `part-*.parquet` once
  * every file of the append is complete. A reader never lists a partial
  * file, and an append that throws deletes what it wrote, renamed files
  * included. An append is one write job: its files carry one UUID of
  * their own (`part-00000-<uuid>.c000.*`), as the files of one Spark
  * write job carry the job's. Names are unique across appends, so
  * appends to one root need no lock and may run at once, from any
  * number of threads of one driver. */
object SharedRoot {

  /** Append `df` to the parquet table at `root`, partitioned by
    * `partitionBy` (`<root>/<col>=<value>/part-*.parquet`, one file per
    * partition value). `df`'s rows are taken on the driver: for a frame
    * of local rows that runs no Spark job. With no partition columns
    * the append is one file at `root`, written even for no rows, as
    * Spark writes one. Frames the table's root is cached under are
    * refreshed, as after Spark's own insert. */
  def append(df: DataFrame, root: String, partitionBy: String*): Unit = {
    val spark = df.sparkSession
    EngineSession.withActive(spark) {
      val plan = df.queryExecution.executedPlan
      val attrs = plan.output
      val parts = partitionBy.map { c =>
        val i = attrs.indexWhere(_.name == c)
        require(i >= 0, s"partition column $c is not in ${attrs.map(_.name).mkString(", ")}")
        i
      }
      val data = attrs.indices.filterNot(parts.contains)
      val dataSchema = DataTypeUtils.fromAttributes(data.map(attrs))
      val tz = Option(spark.conf.get("spark.sql.session.timeZone"))
      // a partition value as Spark's dynamic partition writer renders it
      val dirOf = (row: InternalRow) => parts.map { i =>
        val v = Cast(BoundReference(i, attrs(i).dataType, nullable = true), StringType, tz)
          .eval(row)
        ExternalCatalogUtils.getPartitionPathString(attrs(i).name,
          if (v == null) null else v.toString)
      }.mkString("/")
      val rows = plan.executeCollect().toSeq
      val groups =
        if (parts.isEmpty) Seq("" -> rows) else rows.groupBy(dirOf).toSeq.sortBy(_._1)

      val job = Job.getInstance(EngineSession.hadoopConf(spark))
      val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, dataSchema)
      val context = new TaskAttemptContextImpl(job.getConfiguration,
        new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
      val base = new Path(root)
      val fs = base.getFileSystem(job.getConfiguration)
      val ext = factory.getFileExtension(context)
      // (hidden, visible) for each file
      val files = ArrayBuffer.empty[(Path, Path)]
      val jobUuid = UUID.randomUUID
      try {
        groups.foreach { case (sub, groupRows) =>
          val dir = if (sub.isEmpty) base else new Path(base, sub)
          val name = s"part-00000-$jobUuid.c000$ext"
          val hidden = new Path(dir, s".$name")
          files += hidden -> new Path(dir, name)
          val writer = factory.newInstance(hidden.toString, dataSchema, context)
          try groupRows.foreach { r =>
            writer.write(if (parts.isEmpty) r
              else new GenericInternalRow(data.map(i => r.get(i, attrs(i).dataType)).toArray))
          } finally writer.close()
        }
        files.foreach { case (hidden, visible) =>
          if (!fs.rename(hidden, visible)) throw new IOException(s"could not rename $hidden")
        }
      } catch {
        case NonFatal(e) =>
          // a file is under one of its two names, whichever step failed
          files.foreach { case (hidden, visible) =>
            Seq(hidden, visible).foreach(p =>
              try fs.delete(p, false) catch { case NonFatal(d) => e.addSuppressed(d) })
          }
          throw e
      }
      EngineSession.recacheByPath(spark, base, fs)
    }
  }
}
