package graft

import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.graft.EngineSession

import graft.engine.Scheduler
import graft.model.{JobStatus, MonitorSpec}
import graft.state.AlertSinks
import graft.store.{MetricSource, NioLocalFileSystem, SharedRoot}
import graft.streaming.Ingest

/** The scheduled path creates its local files without a subprocess:
  * the engine session's `file:` FileSystem sets permissions through
  * `java.nio.file`, gives files, directories and `.crc` files the bits
  * Hadoop's own would, and leaves the caller's session as it was. */
class NioLocalFileSystemSpec extends SparkTestBase {
  import spark.implicits._

  private val at = Timestamp.valueOf("2024-01-15 12:00:00")

  /** The command lines of the processes this JVM starts during `body`,
    * from a JFR recording of `jdk.ProcessStart`. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq.map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }

  private def named(commands: Seq[String], tool: String) =
    commands.filter(c => c == tool || c.startsWith(s"$tool "))

  private def monitor(id: Long, expr: String, cron: String) = MonitorSpec(
    id = id, name = s"nio$id", targets = Seq("m.*"), minutes = 120, toDate = None,
    cronExpr = cron, monitorExpr = expr, alertKeys = Seq("mailto:oncall@example.com"),
    errorTimeoutMinutes = 1)

  private lazy val source = MetricSource.ofFrame((for {
    m <- Seq("m.a", "m.b")
    i <- 0 until 120
  } yield (m, new Timestamp(at.getTime - i * 60000L), 1.0 + i % 7)).toDF("metric", "ts", "value"))

  private def perms(p: JPath) = Files.getPosixFilePermissions(p).asScala.toSet

  /** The `file:` FileSystem a conf that names none resolves: the one
    * every session used before [[NioLocalFileSystem]]. */
  private lazy val stockClass =
    FileSystem.getFileSystemClass("file", new org.apache.hadoop.conf.Configuration())

  test("a cohort tick and a per-job tick start no chmod and no readlink") {
    val tmp = Files.createTempDirectory("graft-nio-tick").toString
    val sent = new ConcurrentLinkedQueue[String]()
    val sch = Scheduler.forSourceWithAlerts(spark, source, s"$tmp/job_data",
      s"$tmp/job_errors", s"$tmp/alert_state", s"$tmp/deliveries",
      AlertSinks.default(sent.add(_)), parallelism = 2)
    // failing monitors with a one-minute throttle page on every tick, so
    // each tick writes job_errors, publishes the state and audits a page
    Seq(monitor(1, "count < 0", "0 * * * *"), monitor(2, "count > 0", "0 * * * *"),
      monitor(3, "mean > 1000", "0 * * * *"), monitor(4, "max < 0", "1 * * * *"))
      .foreach(sch.register(_, at.toInstant.minusSeconds(60)))
    val started = processStarts {
      sch.tick(at.toInstant); sch.awaitIdle() // the cohort: jobs 1-3
      sch.tick(at.toInstant.plusSeconds(60)); sch.awaitIdle() // job 4 alone
    }
    sch.shutdown()
    assert(sch.snapshot.map(_.lastStatus) ==
      Seq(JobStatus.Failed, JobStatus.Success, JobStatus.Failed, JobStatus.Failed))
    assert(sent.size == 3, sent.toString)
    Seq("job_data", "job_errors", "alert_state", "deliveries").foreach(d =>
      assert(Files.isDirectory(new java.io.File(s"$tmp/$d").toPath), d))
    assert(named(started, "chmod").isEmpty && named(started, "readlink").isEmpty,
      started.mkString("\n"))
  }

  test("the same append under a session on the stock file: FileSystem starts chmod") {
    val stock = spark.newSession()
    stock.conf.set("fs.file.impl", stockClass.getName)
    stock.conf.set("fs.file.impl.disable.cache", "true")
    def append(session: org.apache.spark.sql.SparkSession, root: String): Seq[String] =
      processStarts(SharedRoot.append(
        session.createDataFrame(Seq((1L, "x"), (2L, "y"))).toDF("job_id", "v"), root, "job_id"))
    val tmp = Files.createTempDirectory("graft-nio-stock").toString
    val forked = append(stock, s"$tmp/stock")
    val engine = EngineSession.derive(spark)
    val none = append(engine, s"$tmp/engine")
    assert(named(forked, "chmod").nonEmpty, forked.mkString("\n"))
    assert(named(none, "chmod").isEmpty, none.mkString("\n"))
    // the same table either way
    val read = (r: String) => spark.read.parquet(r).as[(String, Int)].collect().toSet
    assert(read(s"$tmp/stock") == read(s"$tmp/engine"))
  }

  test("files, directories and .crc files get the stock FileSystem's permissions; renames match it") {
    val (nio, stock) = (new NioLocalFileSystem, stockClass.getDeclaredConstructor().newInstance())
    Seq(nio, stock).foreach(_.initialize(java.net.URI.create("file:///"),
      EngineSession.hadoopConf(spark)))
    val tmp = Files.createTempDirectory("graft-nio-perms").toString
    /** Every entry one FileSystem leaves, relative to its base, with its
      * permissions: default and explicit modes, file and directory; and
      * what its renames do: onto an existing file (refused where the
      * stock FileSystem refuses it), a missing source onto it, and onto
      * a new name. */
    def layout(fs: FileSystem, base: String) = {
      val out = fs.create(new Path(s"$base/d/plain.bin"))
      try out.write(Array[Byte](1, 2, 3)) finally out.close()
      fs.create(new Path(s"$base/d/mode640.bin"), new FsPermission("640"), true, 4096,
        1.toShort, 1L << 20, null).close()
      fs.mkdirs(new Path(s"$base/d/sub750"), new FsPermission("750"))
      fs.mkdirs(new Path(s"$base/d/deep/er"))
      fs.setPermission(new Path(s"$base/d/plain.bin"), new FsPermission("604"))
      val renames = Seq(
        fs.rename(new Path(s"$base/d/mode640.bin"), new Path(s"$base/d/plain.bin")),
        fs.rename(new Path(s"$base/d/missing.bin"), new Path(s"$base/d/plain.bin")),
        fs.rename(new Path(s"$base/d/mode640.bin"), new Path(s"$base/d/moved.bin")))
      (renames, Files.walk(new java.io.File(base).toPath).iterator().asScala.toSeq
        .map(p => new java.io.File(base).toPath.relativize(p).toString -> perms(p)).toMap)
    }
    val viaNio = layout(nio, s"$tmp/nio")
    val viaStock = layout(stock, s"$tmp/stock")
    assert(viaNio._2.keySet.exists(_.endsWith(".plain.bin.crc")), viaNio._2.keySet)
    assert(viaNio._2.keySet.exists(_.endsWith(".moved.bin.crc")), viaNio._2.keySet)
    assert(viaNio == viaStock)
    nio.close(); stock.close()
  }

  test("the engine session carries the NIO FileSystem; the caller's confs stay as they were") {
    val caller = spark.newSession()
    val before = caller.conf.getOption("fs.file.impl")
    val engine = EngineSession.derive(caller)
    assert(caller.conf.getOption("fs.file.impl") == before)
    assert(caller.conf.getOption("fs.file.impl.disable.cache").isEmpty)
    assert(engine.conf.get("fs.file.impl") == classOf[NioLocalFileSystem].getName)
    // a caller that names another file: FileSystem keeps it for itself
    caller.conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    caller.conf.set("fs.file.impl.disable.cache", "true")
    val root = new Path(Files.createTempDirectory("graft-nio-conf").toUri)
    assert(root.getFileSystem(EngineSession.hadoopConf(caller)).getClass ==
      classOf[LocalFileSystem])
    assert(root.getFileSystem(EngineSession.hadoopConf(EngineSession.derive(caller))).getClass ==
      classOf[NioLocalFileSystem])
    assert(caller.conf.get("fs.file.impl") == classOf[LocalFileSystem].getName)
  }

  test("a streaming ingest on Session.local writes its store and checkpoint log without a subprocess") {
    val tmp = Files.createTempDirectory("graft-nio-stream").toString
    val started = processStarts(
      Ingest.runAvailableNow(spark, "/root/testdata/sf0.001", s"$tmp/store", s"$tmp/checkpoint"))
    assert(spark.read.parquet(s"$tmp/store").count() > 0)
    assert(Files.exists(new java.io.File(s"$tmp/checkpoint/commits/0").toPath))
    assert(named(started, "chmod").isEmpty && named(started, "readlink").isEmpty,
      started.mkString("\n"))
  }

  test("a sticky-bit request takes Hadoop's own path") {
    val nio = new NioLocalFileSystem
    nio.initialize(java.net.URI.create("file:///"), EngineSession.hadoopConf(spark))
    val dir = Files.createTempDirectory("graft-nio-sticky")
    val started = processStarts(nio.setPermission(new Path(dir.toUri), new FsPermission("1777")))
    assert(named(started, "chmod").size == 1, started.mkString("\n"))
    assert(perms(dir).size == 9) // rwxrwxrwx, with the sticky bit only chmod can set
    val plain = processStarts(nio.setPermission(new Path(dir.toUri), new FsPermission("755")))
    assert(plain.isEmpty, plain.mkString("\n"))
    nio.close()
  }
}
