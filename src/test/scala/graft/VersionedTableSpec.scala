package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions.{col, udf}

import graft.model.JobStatus
import graft.state.AlertThrottle
import graft.state.AlertThrottle.ThrottleState
import graft.store.VersionedTable

/** Kill points of the versioned path-table commit: whatever fails, a
  * reader resolves the old version or the new one, never neither. */
class VersionedTableSpec extends SparkTestBase {

  private def state(ms: Long) = Map(8L -> ThrottleState(JobStatus.Failed, ms))

  test("a publish whose write fails inside a Spark task leaves the previous version current") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-vt-fail").toString + "/alert_state"
    AlertThrottle.saveStateTable(spark, path, state(1000L))
    val boom = udf((x: Long) => { if (x >= 0) throw new RuntimeException("disk gone"); x })
    intercept[Exception] {
      VersionedTable.publish(spark, path) { root =>
        Seq((8L, "success", 2000L)).toDF("job_id", "status", "last_alerted_ms")
          .withColumn("job_id", boom(col("job_id"))).write.parquet(root)
      }
    }
    assert(VersionedTable.current(spark, path).contains(s"$path/v=0"))
    assert(AlertThrottle.loadStateTable(spark, path) == state(1000L))
    AlertThrottle.saveStateTable(spark, path, state(3000L))
    assert(AlertThrottle.loadStateTable(spark, path) == state(3000L))
  }

  test("an unpublished v=N from a crash before the pointer swap is never read, then swept") {
    val dir = Files.createTempDirectory("graft-vt-crash").toString + "/t"
    def partial(v: Int): Unit = {
      val d = new File(s"$dir/v=$v")
      assert(d.mkdirs())
      Files.write(new File(d, "part-0.parquet").toPath, "partial".getBytes("UTF-8"))
    }
    // a crash during the very first publish: no pointer, nothing to read
    partial(0)
    assert(VersionedTable.current(spark, dir).isEmpty)
    assert(AlertThrottle.loadStateTable(spark, dir).isEmpty)
    AlertThrottle.saveStateTable(spark, dir, state(1000L))
    assert(VersionedTable.current(spark, dir).contains(s"$dir/v=1"))
    assert(!new File(s"$dir/v=0").exists())
    // a crash after a publish: the pointer still names v=1
    partial(2)
    assert(VersionedTable.current(spark, dir).contains(s"$dir/v=1"))
    assert(AlertThrottle.loadStateTable(spark, dir) == state(1000L))
    AlertThrottle.saveStateTable(spark, dir, state(2000L))
    assert(VersionedTable.current(spark, dir).contains(s"$dir/v=3"))
    assert(!new File(s"$dir/v=2").exists(), "crashed partial retained")
    assert(new File(s"$dir/v=1").exists(), "previously published version swept")
    assert(AlertThrottle.loadStateTable(spark, dir) == state(2000L))
    // a missing directory has no current version
    assert(VersionedTable.current(spark, s"$dir-missing").isEmpty)
  }

  test("a state table in the flat pre-versioning layout loads, and its next save is versioned") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-vt-flat").toString + "/alert_state"
    // the layout an in-place overwrite wrote: part files directly under the path
    Seq((8L, JobStatus.Failed, 1000L)).toDF("job_id", "status", "last_alerted_ms")
      .coalesce(1).write.parquet(path)
    assert(VersionedTable.current(spark, path).contains(path))
    assert(AlertThrottle.loadStateTable(spark, path) == state(1000L))
    // a failed first versioned save leaves a partial beside the flat
    // files; the flat table still loads
    assert(new File(s"$path/v=0").mkdirs())
    Files.write(new File(s"$path/v=0/part-0.parquet").toPath, "partial".getBytes("UTF-8"))
    assert(AlertThrottle.loadStateTable(spark, path) == state(1000L))
    AlertThrottle.saveStateTable(spark, path, state(2000L))
    assert(VersionedTable.current(spark, path).contains(s"$path/v=1"))
    assert(AlertThrottle.loadStateTable(spark, path) == state(2000L))
  }

  test("a state table loads with its written schema: the collect is its only job") {
    val path = Files.createTempDirectory("graft-vt-schema").toString + "/alert_state"
    AlertThrottle.saveStateTable(spark, path, state(1000L))
    var loaded = Map.empty[Long, ThrottleState]
    assert(jobsDuring { loaded = AlertThrottle.loadStateTable(spark, path) } == 1)
    assert(loaded == state(1000L))
  }
}
