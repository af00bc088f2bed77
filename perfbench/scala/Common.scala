package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import javax.management.ObjectName

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.dsl.{MonitorDsl, TargetLang}

/** Command-line arguments of the JVM side: `<workload> <inDir> <outDir>
  * <seconds> <trace 0|1>`. The inputs under `inDir` were generated from
  * the seed by `gen.py`; everything the run writes goes under `outDir`. */
final case class Args(workload: String, in: String, out: String, seconds: Double, trace: Boolean)

object Session {
  /** One local session per workload JVM. A fixed four cores, so runs on
    * larger machines stay comparable; FAIR so the scheduler's named pool
    * is honoured. */
  def create(out: String, extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/spark-local")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** One traced interval. Times are `System.nanoTime`; `parent` is the
  * enclosing span (0 = none) and `op` the operation (tick, request,
  * query) it belongs to (0 = set-up or probe work). */
final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long, op: Long)

/** In-memory span buffer, written out once when the run ends. */
final class Tracer {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def add(name: String, start: Long, end: Long, parent: Long = 0, op: Long = 0,
      id: Long = 0): Long = {
    val sid = if (id != 0) id else nextId()
    spans.add(Span(sid, name, start, end, parent, op))
    sid
  }

  def write(path: String): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""parent":${s.parent},"op":${s.op}}"""
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Self time per span name: each span's duration minus the part of it
    * that its child spans cover. */
  def selfTimesMs: Map[String, Double] = {
    val all = spans.asScala.toSeq
    val children = all.filter(_.parent != 0).groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Stats.unionLength(children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
        (s.end - s.start - covered) / 1e6
      }.sum
    }
  }
}

object Stats {
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val rank = p / 100.0 * (s.size - 1)
      val lo = math.floor(rank).toInt
      val hi = math.ceil(rank).toInt
      s(lo) + (s(hi) - s(lo)) * (rank - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def timeMs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

/** Spark-side counters gathered by listeners the benchmark registers.
  * `SqlExec` records one SQL execution (a collect, a write, ...) with
  * its physical plan text, so a write can be told apart by its target
  * path. */
final class SparkProbe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  final case class SqlExec(id: Long, startMs: Long, endMs: Long, plan: String)

  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val execRunMs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val inputBytes = new AtomicLong
  val analysisMs = new AtomicLong
  val optimizationMs = new AtomicLong
  val planningMs = new AtomicLong
  val exchanges = new AtomicLong
  val filesRead = new AtomicLong

  private val started = new java.util.concurrent.ConcurrentHashMap[Long, (Long, String)]()
  val sqlExecs = new ConcurrentLinkedQueue[SqlExec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      execRunMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      started.put(s.executionId, (s.time, s.physicalPlanDescription))
    case x: SparkListenerSQLExecutionEnd =>
      val st = started.remove(x.executionId)
      if (st != null) sqlExecs.add(SqlExec(x.executionId, st._1, x.time, st._2))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def phase(n: String) = ph.get(n).map(_.durationMs).getOrElse(0L)
    analysisMs.addAndGet(phase("analysis"))
    optimizationMs.addAndGet(phase("optimization"))
    planningMs.addAndGet(phase("planning"))
    val plan: SparkPlan = qe.executedPlan
    exchanges.addAndGet(collect(plan) { case x: ShuffleExchangeLike => x }.size.toLong)
    filesRead.addAndGet(collect(plan) { case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L) }.sum)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def install(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfBenchBus.drain(spark.sparkContext)

  def counters: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "exec_ms" -> execRunMs.get, "gc_ms" -> gcMs.get, "shuffle_bytes" -> shuffleBytes.get,
    "spill_bytes" -> spillBytes.get, "input_bytes" -> inputBytes.get,
    "analysis_ms" -> analysisMs.get, "optimization_ms" -> optimizationMs.get,
    "planning_ms" -> planningMs.get, "exchanges" -> exchanges.get,
    "files_read" -> filesRead.get)

  /** Per-op Spark metrics, with units, between two counter snapshots. */
  def perOp(before: Map[String, Long], after: Map[String, Long],
      ops: Long): Map[String, (Double, String)] = {
    def d(k: String) = (after(k) - before(k)).toDouble
    val n = math.max(ops, 1L).toDouble
    Map(
      "spark.jobs_per_op" -> (d("jobs") / n, "count"),
      "spark.stages_per_op" -> (d("stages") / n, "count"),
      "spark.tasks_per_op" -> (d("tasks") / n, "count"),
      "spark.analysis_ms_per_op" -> (d("analysis_ms") / n, "ms"),
      "spark.optimization_ms_per_op" -> (d("optimization_ms") / n, "ms"),
      "spark.planning_ms_per_op" -> (d("planning_ms") / n, "ms"),
      "spark.exec_ms_per_op" -> (d("exec_ms") / n, "ms"),
      "spark.exchanges_per_op" -> (d("exchanges") / n, "count"),
      "spark.shuffle_bytes_per_op" -> (d("shuffle_bytes") / n, "bytes"),
      "spark.spill_bytes_per_op" -> (d("spill_bytes") / n, "bytes"),
      "spark.executor_gc_ms" -> (d("gc_ms"), "ms"),
      "store.scan_bytes_per_op" -> (d("input_bytes") / n, "bytes"),
      "store.files_read_per_op" -> (d("files_read") / n, "count"))
  }
}

object Jvm {
  /** Log a phase boundary with the seconds since the JVM started. */
  def mark(phase: String): Unit = Console.err.println(f"[perfbench] $phase%-24s at ${
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.1f s")

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Bytes of reachable heap objects: the total of a class histogram,
    * which makes a full collection first. */
  private def liveHeapBytes(): Double = {
    val histogram = ManagementFactory.getPlatformMBeanServer.invoke(
      new ObjectName("com.sun.management:type=DiagnosticCommand"), "gcClassHistogram",
      Array[AnyRef](Array.empty[String]), Array("[Ljava.lang.String;")).toString
    histogram.linesIterator.map(_.trim).find(_.startsWith("Total"))
      .map(_.split("\\s+")(2).toDouble).getOrElse(0.0)
  }

  /** Live heap plus non-heap in use (metaspace, code cache), in MB: what
    * the program keeps alive, which the fixed heap size does not decide.
    * Broadcasts and shuffles that are no longer referenced are released
    * by Spark's context cleaner only after a collection has found them,
    * so this collects until the live heap stops shrinking. Call it
    * outside timed intervals: it takes a second or two. */
  def liveMemoryMb(): Double = {
    var (prev, cur, rounds) = (Double.MaxValue, liveHeapBytes(), 1)
    while (rounds < 6 && cur < prev * 0.99) {
      Thread.sleep(300)
      prev = cur
      cur = liveHeapBytes()
      rounds += 1
    }
    val nonHeap = ManagementFactory.getMemoryMXBean.getNonHeapMemoryUsage.getUsed.toDouble
    Console.err.println(f"[perfbench] live heap ${cur / 1048576}%.1f MB after $rounds%d " +
      f"collections, non-heap ${nonHeap / 1048576}%.1f MB")
    (cur + nonHeap) / 1048576.0
  }
}

/** What a workload reports back to `run.py`. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String, Long)]
  val details = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  val mismatches = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String, n: Long = 1): Unit =
    metrics(name) = (value, unit, n)

  def layer(values: Map[String, (Double, String)]): Unit =
    values.foreach { case (k, (v, u)) => metric(k, v, u) }

  def mismatch(what: String): Unit = mismatches += what

  def write(path: String): Unit = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
    val ms = metrics.map { case (k, (v, u, n)) =>
      s""""$k":{"value":${num(v)},"unit":"$u","n":$n}""" }.mkString("{", ",", "}")
    val mm = mismatches.take(50).map(m => Json.str(m)).mkString("[", ",", "]")
    val dt = details.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    val body = s"""{"attempted":$attempted,"failed":${mismatches.size},"mismatches":$mm,""" +
      s""""metrics":$ms,"details":$dt}"""
    Files.write(Paths.get(path), body.getBytes(StandardCharsets.UTF_8))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Timing of the dsl layer's public parse/compile functions. */
object Probes {
  private def perCallUs(xs: Seq[String], reps: Int)(f: String => Any): Double =
    Stats.median(xs.map { x =>
      f(x) // the first call warms the parser for this input
      val t0 = System.nanoTime()
      (1 to reps).foreach(_ => f(x))
      (System.nanoTime() - t0) / 1e3 / reps
    })

  def parseUs(targets: Seq[String]): Double =
    perCallUs(targets, 20)(t => TargetLang.parse(t).fold(e => sys.error(e), identity))

  def compileUs(exprs: Seq[String]): Double =
    perCallUs(exprs, 20)(e =>
      MonitorDsl.compile(MonitorDsl.parse(e).fold(m => sys.error(m), identity)))
}

object Multiset {
  /** Elements whose counts differ between the two sequences, tagged
    * with which side has more of them. */
  def diff[A](expected: Seq[A], actual: Seq[A]): Seq[String] = {
    val e = expected.groupBy(identity).map { case (k, v) => k -> v.size }
    val a = actual.groupBy(identity).map { case (k, v) => k -> v.size }
    (e.keySet ++ a.keySet).toSeq.flatMap { k =>
      val (ne, na) = (e.getOrElse(k, 0), a.getOrElse(k, 0))
      if (ne == na) Nil else Seq(s"$k expected $ne, got $na")
    }
  }
}

object SelfTime {
  /** Self time per layer and per op, and the share of the op spans'
    * wall time that no layer span covers. A span's layer is its name up
    * to the first dot; the `opSpan` spans are the roots. */
  def report(res: Result, tracer: Tracer, opSpan: String, ops: Int): Unit = {
    val self = tracer.selfTimesMs
    Seq("store", "engine", "state", "spark", "suite").foreach { l =>
      val ms = self.collect { case (k, v) if k != opSpan && k.takeWhile(_ != '.') == l => v }.sum
      res.metric(s"self.${l}_ms_per_op", ms / math.max(ops, 1), "ms")
    }
    val (roots, kids) = tracer.spans.asScala.toSeq.partition(_.name == opSpan)
    val wall = Stats.unionLength(roots.map(s => (s.start, s.end))).toDouble
    val (lo, hi) = (roots.map(_.start).minOption.getOrElse(0L), roots.map(_.end).maxOption.getOrElse(0L))
    val covered = Stats.unionLength(kids.map(s => (math.max(s.start, lo), math.min(s.end, hi))))
    res.metric("trace.unattributed_share", if (wall > 0) 1.0 - covered / wall else 0.0, "ratio")
  }
}

object Overhead {
  /** Tracing overhead: the traced phase's numbers minus the untraced
    * ones, on the same JVM and inputs. The untraced figures are the mean
    * of a phase before and a phase after the traced one, so JIT warm-up
    * does not count as negative overhead. */
  def report(res: Result, p50: Double, tracedP50: Double, rate: Double, tracedRate: Double): Unit = {
    res.metric("trace.overhead_p50_ms", tracedP50 - p50, "ms")
    res.metric("trace.overhead_rate_share", (rate - tracedRate) / math.max(rate, 1e-9), "ratio")
  }
}
