package graft.store

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.graft.EngineSession

/** The one append path for parquet tables that several writers share
  * by root: `job_data`, `job_errors` and the delivery-audit table.
  *
  * An append to a root stages its files under `<root>/_temporary/0/`
  * and deletes that directory when it commits, so two appends to one
  * root at once delete each other's staged files. [[append]] therefore
  * serializes the appends to each root with a driver-side lock per
  * qualified root path; appends to different roots run concurrently.
  * Callers batch their rows (one append per tick, not per run), so the
  * lock is taken once per batch. Scope: one driver JVM; two drivers
  * appending to one root would need a storage-level lease. */
object SharedRoot {

  private val locks = new ConcurrentHashMap[String, AnyRef]()

  /** Append `df` to the parquet table at `root`, partitioned by
    * `partitionBy` (`<root>/<col>=<value>/part-*.parquet`). */
  def append(df: DataFrame, root: String, partitionBy: String*): Unit = {
    val path = new Path(root)
    val key = path.getFileSystem(EngineSession.hadoopConf(df.sparkSession))
      .makeQualified(path).toString
    locks.computeIfAbsent(key, _ => new Object).synchronized {
      df.write.mode(SaveMode.Append).partitionBy(partitionBy: _*).parquet(root)
    }
  }
}
