package graft
import java.nio.file.Files
import java.sql.Timestamp
/** Regression guard for the shared-committer race: an append stages
  * under `<root>/_temporary/0/` and deletes it on commit, so two appends
  * to one table root at once delete each other's files. Every run
  * appends at the `job_data` / `job_errors` root, and
  * `store.SharedRoot.append` serializes the appends to each root. */
class ConcurrentPersistSpec extends SparkTestBase {
  test("concurrent runOnce for different jobs commits safely") {
    val tmp = Files.createTempDirectory("graft-conc-probe").toString
    val source = graft.store.MetricSource.events(spark, "/root/testdata/sf0.001")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1L to 4L).map { id =>
      new Thread(() => {
        try {
          graft.engine.Runner.runOnce(spark, source,
            graft.model.MonitorSpec(id, s"p$id", Seq("events.*"), 360, None,
              "* * * * *", "mean > 0"),
            Timestamp.valueOf("2024-01-15 12:00:00"),
            s"$tmp/job_data", s"$tmp/job_errors")
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs.toString)
    // all four runs landed, one per job partition
    assert(spark.read.parquet(s"$tmp/job_data").count() == 4)
  }

  test("a runBatch concurrent with runOnce calls on the same roots lands every row") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-conc-batch").toString
    val (jd, je) = (s"$tmp/job_data", s"$tmp/job_errors")
    val now = Timestamp.valueOf("2024-01-15 12:00:00")
    // two series of positive values over the last two hours
    val source = graft.store.MetricSource.ofFrame((for {
      m <- Seq("m.a", "m.b")
      i <- 0 until 120
    } yield (m, new Timestamp(now.getTime - i * 60000L), 1.0 + i % 7))
      .toDF("metric", "ts", "value"))
    def spec(id: Long, expr: String) =
      graft.model.MonitorSpec(id, s"p$id", Seq("m.*"), 180, None, "* * * * *", expr)
    // failing monitors on both sides, so both roots see concurrent appends
    val batch = (1L to 4L).map(id => spec(id, if (id % 2 == 0) "mean > 1000000" else "mean > 0"))
    val single = (5L to 7L).map(id => spec(id, if (id == 6) "count > 0" else "count < 0"))
    var batchResult = Map.empty[Long, scala.util.Try[Seq[graft.model.Verdict]]]
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = ((() => batchResult = graft.engine.Runner.runBatch(spark, source, batch, now,
      jd, je, parallelism = 2)) +: single.map(sp => () =>
      graft.engine.Runner.runOnce(spark, source, sp, now, jd, je): Unit))
      .map(body => new Thread(() => try body() catch { case e: Throwable => errs.add(e) }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs.toString)
    assert(batchResult.values.forall(_.isSuccess), batchResult.toString)
    def ids(path: String) = spark.read.parquet(path).collect()
      .map(_.getAs[Number]("job_id").longValue).toSeq.sorted
    assert(ids(jd) == (1L to 7L))
    // one job_errors row per series of each failing run
    assert(ids(je) == Seq(2L, 2L, 4L, 4L, 5L, 5L, 7L, 7L))
  }
}
