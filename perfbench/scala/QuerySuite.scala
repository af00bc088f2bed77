package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.queries.Queries
import graft.store.Tables

/** `query_suite`: timed passes over a fixed slice of the registry,
  * each query forced with a noop write, in `Bench`'s warm posture
  * (`Tables` cache on, codegen cache at 4096 classes). */
object QuerySuite {

  final case class Timing(name: String, buildMs: Double, forceMs: Double) {
    def wallMs: Double = buildMs + forceMs
  }

  private def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(a: Args, res: Result): Unit = {
    val in = Inputs.read(s"${a.in}/queries.json")
    val names = in.get("queries").elements().asScala.map(_.asText).toSeq
    // fixture name -> the queries that read it
    val fixtureUsers = in.get("fixtures").fields().asScala
      .map(e => e.getKey -> e.getValue.elements().asScala.map(_.asText).toSet).toMap
    val byName = Queries.all.map(d => d.name -> d).toMap
    val defs = names.map(byName)
    // the data directory of the current set-up
    var dir = ""
    val spark = Session.create(a.out, "spark.sql.codegen.cache.maxEntries" -> "4096")
    Tables.cacheEnabled = true
    Jvm.mark("session")
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]

    def timeOne(d: Queries.QueryDef): Timing = {
      val t0 = System.nanoTime()
      try {
        val df = d.fn(spark, dir)
        val t1 = System.nanoTime()
        force(df)
        Timing(d.name, (t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6)
      } catch {
        case t: Throwable =>
          failures(d.name) = s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(200)}"
          Timing(d.name, (System.nanoTime() - t0) / 1e6, 0)
      }
    }
    /** Whole passes, at least three and until `seconds` have passed;
      * per query the median. */
    def passes(seconds: Double): (Seq[Seq[Timing]], Double) = {
      val t0 = System.nanoTime()
      val out = Seq.newBuilder[Seq[Timing]]
      var n = 0
      do { out += defs.map(timeOne); n += 1 }
      while (n < 3 || (System.nanoTime() - t0) / 1e9 < seconds)
      (out.result(), (System.nanoTime() - t0) / 1e9)
    }
    def medians(ps: Seq[Seq[Timing]]): Seq[Timing] = names.indices.map { i =>
      val ts = ps.map(_(i))
      Timing(names(i), Stats.median(ts.map(_.buildMs)), Stats.median(ts.map(_.forceMs)))
    }

    // set-up, made three times so setup_s is a median: one pass that
    // fills the table cache, with the stored fixtures built, and timed,
    // before the queries that read them run for the first time. Each
    // set-up reads its own directory of hard links to the generated
    // files, so its cache and fixtures start empty; the first one also
    // compiles every plan. The last one serves the timed passes.
    val usesFixture = fixtureUsers.values.flatten.toSet
    def setUp(k: Int): (Seq[Timing], Double, Double) = {
      dir = s"${a.out}/data$k"
      val links = Files.createDirectories(Paths.get(dir))
      val files = Files.list(Paths.get(s"${a.in}/data"))
      try files.iterator().asScala.foreach(f => Files.createLink(links.resolve(f.getFileName), f))
      finally files.close()
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val cold = defs.filterNot(d => usesFixture(d.name)).map(timeOne)
      val f0 = System.nanoTime()
      Queries.fixtures.filter(f => fixtureUsers.contains(f._1)).foreach { case (_, b) => b(spark, dir) }
      val fixturesS = (System.nanoTime() - f0) / 1e9
      val all = cold ++ defs.filter(d => usesFixture(d.name)).map(timeOne)
      (all, fixturesS, (System.nanoTime() - t0) / 1e9)
    }
    val setups = (1 to 3).map(setUp)
    res.metric("setup_s", Stats.median(setups.map(_._3)), "s", setups.size)
    res.details("setup_s_each") = setups.map(_._3).mkString("[", ",", "]")
    val fixturesS = Stats.median(setups.map(_._2))
    Jvm.mark("setup")
    res.details("setup_pass_ms") = setups.map(_._1.map(t => s""""${t.name}":${t.wallMs}""")
      .mkString("{", ",", "}")).mkString("[", ",", "]")
    res.details("setup_fixtures_s") = setups.map(_._2).mkString("[", ",", "]")

    val (ps, _) = passes(a.seconds)
    res.details("passes_ms") = ps.map(_.map(t => f"${t.wallMs}%.1f").mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    val med = medians(ps)
    val ms = med.map(_.wallMs)
    res.metric("suite_s", ms.sum / 1000, "s", ps.size)
    res.metric("suite_geomean_ms", Stats.geomean(ms), "ms", ms.size)
    res.metric("suite_p90_ms", Stats.percentile(ms, 90), "ms", ms.size)
    res.metric("queries_per_s", ms.size / (ms.sum / 1000), "1/s", ms.size)
    Jvm.mark("measured")
    res.metric("live_memory_mb", Jvm.liveMemoryMb(), "MB")

    if (a.trace) {
      val probe = new SparkProbe(spark).install()
      val tracer = new Tracer
      probe.drain()
      val gc0 = Jvm.gcMs
      val before = probe.counters
      val wall0Ms = System.currentTimeMillis()
      val nano0 = System.nanoTime()
      // one traced pass; the bus is drained between queries so each
      // query's counters are its own
      val detail = defs.map { d =>
        probe.drain()
        val c0 = probe.counters
        val op = tracer.nextId()
        val s = System.nanoTime()
        val t = timeOne(d)
        val b = s + (t.buildMs * 1e6).toLong
        tracer.add("suite.build", s, b, op, op)
        tracer.add("suite.force", b, System.nanoTime(), op, op)
        tracer.add("suite.query", s, System.nanoTime(), 0, op, op)
        probe.drain()
        val c1 = probe.counters
        def d_(k: String) = c1(k) - c0(k)
        (t, Seq("jobs", "exchanges", "shuffle_bytes", "input_bytes").map(k => k -> d_(k)))
      }
      val traced = detail.map(_._1)
      val gcMs = Jvm.gcMs - gc0
      probe.uninstall()
      res.layer(probe.perOp(before, probe.counters, defs.size))
      // untraced reference: the passes just before and just after
      val again = defs.map(timeOne)
      val ref = ps.last.zip(again).map { case (x, y) => (x.wallMs + y.wallMs) / 2 }
      res.metric("jvm.driver_gc_ms", gcMs.toDouble, "ms")
      // SQL executions nest under the force span that ran them
      val forces = tracer.spans.asScala.filter(_.name == "suite.force").toSeq
      probe.sqlExecs.asScala.filter(_.startMs >= wall0Ms).foreach { x =>
        val (s, e) = (nano0 + (x.startMs - wall0Ms) * 1000000L, nano0 + (x.endMs - wall0Ms) * 1000000L)
        val parent = forces.find(f => s >= f.start - 2000000L && s <= f.end + 2000000L)
        tracer.add("spark.exec", s, e, parent.map(_.id).getOrElse(0L), parent.map(_.op).getOrElse(0L))
      }
      SelfTime.report(res, tracer, "suite.query", defs.size)
      def sumS(f: Timing => Boolean) = med.filter(f).map(_.wallMs).sum / 1000
      res.metric("suite.series_s", sumS(!_.name.startsWith("x")), "s")
      res.metric("suite.corpus_s", sumS(_.name.startsWith("x")), "s")
      res.metric("suite.build_s", med.map(_.buildMs).sum / 1000, "s")
      res.metric("suite.force_s", med.map(_.forceMs).sum / 1000, "s")
      res.metric("suite.fixtures_s", fixturesS, "s", setups.size)
      val tms = traced.map(_.wallMs)
      res.metric("trace.overhead_p50_ms", Stats.geomean(tms) - Stats.geomean(ref), "ms")
      res.metric("trace.overhead_rate_share", (tms.sum - ref.sum) / ref.sum, "ratio")
      val rows = detail.map { case (t, cs) =>
        s"""{"query":"${t.name}","wall_ms":${t.wallMs},"build_ms":${t.buildMs},""" +
          s""""force_ms":${t.forceMs},""" + cs.map { case (k, v) => s""""$k":$v""" }.mkString(",") + "}"
      }
      Files.write(Paths.get(s"${a.out}/query_detail.jsonl"),
        rows.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      tracer.write(s"${a.out}/spans.jsonl")
    }

    // check: no query failed; row counts of the oracle-bearing queries go
    // to run.py, which compares them with DuckDB over the same files
    failures.foreach { case (n, e) => res.mismatch(s"$n failed: $e") }
    val counts = defs.filter(_.oracle.isDefined).map { d =>
      val n = try d.fn(spark, dir).count() catch { case _: Throwable => -1L }
      s""""${d.name}":{"rows":$n,"sql":${Json.str(d.oracle.get())}}"""
    }
    res.details("oracle") = counts.mkString("{", ",", "}")
    res.attempted = defs.size
    Jvm.mark("checked")
  }
}
