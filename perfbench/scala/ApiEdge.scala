package perfbench

import java.net.URI
import java.net.URLDecoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.engine.{MonitorApi, MonitorApiServer, Planner}
import graft.store.MetricSource

/** `api_edge`: the interactive read path. `MonitorApiServer` serves on
  * loopback with a bearer token over `MetricSource.events` (raw parquet,
  * window pushdown, `Tables` cache off). Four client threads, one
  * connection each, send the seeded request sequence in a closed loop. */
object ApiEdge {

  final case class Call(idx: Int, route: String, startNs: Long, endNs: Long, code: Int,
      body: String, spanId: Long)

  private val Token = "perfbench-token"
  private val Clients = 4

  def run(a: Args, res: Result): Unit = {
    val api = Inputs.api(s"${a.in}/api.json")
    val spark = Session.create(a.out)
    Jvm.mark("session")
    val base = MetricSource.events(spark, s"${a.in}/data")
    val jobData = s"${a.in}/job_data"
    val tracer = new Tracer
    @volatile var tracing = false
    val scanCalls = new AtomicLong
    val source: MetricSource = (from, until) => {
      val t0 = System.nanoTime()
      val df = base.scan(from, until)
      if (tracing) {
        scanCalls.incrementAndGet()
        tracer.add("store.scan", t0, System.nanoTime())
      }
      df
    }

    // set-up, made three times so setup_s is a median: start a server
    // and answer the first call of each route (the cold calls compile
    // each route's plans). The last server takes the load.
    val firstOfRoute = api.pool.indices.groupBy(api.pool(_).route).values.map(_.head).toSeq.sorted
    val setups = (1 to 3).map { k =>
      val (s, ms) = Stats.timeMs {
        val s = new MonitorApiServer(spark, source, jobData, Some(Token)).start()
        val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
        firstOfRoute.foreach(i => send(client, s, api.pool(i)))
        s
      }
      if (k < 3) s.stop()
      (s, ms / 1000)
    }
    val server = setups.last._1
    res.metric("setup_s", Stats.median(setups.map(_._2)), "s", setups.size)
    res.details("setup_s_each") = setups.map(_._2).mkString("[", ",", "]")
    Jvm.mark("setup")

    def phase(seconds: Double): (Seq[Call], Double) = {
      val next = new AtomicLong
      val calls = new ConcurrentLinkedQueue[Call]()
      val t0 = System.nanoTime()
      val threads = (1 to Clients).map { _ =>
        new Thread(() => {
          val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
          while ((System.nanoTime() - t0) / 1e9 < seconds) {
            val idx = api.sequence((next.getAndIncrement() % api.sequence.size).toInt)
            val req = api.pool(idx)
            val s = System.nanoTime()
            val (code, body) = send(client, server, req)
            val e = System.nanoTime()
            val id = if (tracing) tracer.add("api.request", s, e) else 0L
            calls.add(Call(idx, req.route, s, e, code, body, id))
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      (calls.asScala.toSeq, (System.nanoTime() - t0) / 1e9)
    }
    def latMs(cs: Seq[Call]) = cs.map(c => (c.endNs - c.startNs) / 1e6)

    val all = Seq.newBuilder[Call]
    try {
      val (calls, wall) = phase(a.seconds)
      all ++= calls
      val lat = latMs(calls)
      res.metric("api_p50_ms", Stats.median(lat), "ms", lat.size)
      res.metric("api_p95_ms", Stats.percentile(lat, 95), "ms", lat.size)
      res.metric("api_rps", calls.size / wall, "1/s", calls.size)
      Jvm.mark("measured")
      res.metric("live_memory_mb", Jvm.liveMemoryMb(), "MB")

      if (a.trace) {
        val probe = new SparkProbe(spark).install()
        probe.drain()
        val before = probe.counters
        val gc0 = Jvm.gcMs
        val wall0Ms = System.currentTimeMillis()
        val nano0 = System.nanoTime()
        tracing = true
        val (tc, twall) = phase(a.seconds)
        tracing = false
        probe.uninstall()
        val gcMs = Jvm.gcMs - gc0
        val (uc, uwall) = phase(a.seconds)
        all ++= tc ++ uc
        res.layer(probe.perOp(before, probe.counters, tc.size))
        res.metric("jvm.driver_gc_ms", gcMs.toDouble, "ms")
        res.metric("store.scan_calls_per_op", scanCalls.get.toDouble / tc.size, "count")
        Seq("evaluate" -> "/api/evaluate", "render" -> "/api/render",
          "backtest" -> "/api/backtest", "latest" -> "/api/jobs/latest").foreach { case (n, r) =>
          val l = latMs(tc.filter(_.route == r))
          res.metric(s"engine.api_${n}_p50_ms", Stats.median(l), "ms", l.size)
        }
        probe.sqlExecs.asScala.filter(_.startMs >= wall0Ms).foreach { x =>
          tracer.add("spark.exec", nano0 + (x.startMs - wall0Ms) * 1000000L,
            nano0 + (x.endMs - wall0Ms) * 1000000L)
        }
        SelfTime.report(res, tracer, "api.request", tc.size)
        Overhead.report(res, (Stats.median(lat) + Stats.median(latMs(uc))) / 2,
          Stats.median(latMs(tc)), (calls.size / wall + uc.size / uwall) / 2, tc.size / twall)
        layerProbes(res, spark, base, api.pool)
        tracer.write(s"${a.out}/spans.jsonl")
      }
    } finally server.stop()

    check(res, spark, base, jobData, api.pool, all.result())
    Jvm.mark("checked")
  }

  private def send(client: HttpClient, server: MonitorApiServer,
      r: Inputs.Request): (Int, String) = {
    val addr = server.address
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${addr.getPort}${r.path}"))
      .header("Authorization", s"Bearer $Token")
    val req =
      if (r.method == "POST") b.POST(HttpRequest.BodyPublishers.ofString(r.body)).build()
      else b.GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode, resp.body)
  }

  private def params(path: String): Map[String, String] =
    path.dropWhile(_ != '?').drop(1).split("&").filter(_.contains("=")).map { kv =>
      val i = kv.indexOf('=')
      kv.take(i) -> URLDecoder.decode(kv.drop(i + 1), "UTF-8")
    }.toMap

  /** The same call made serially through the `MonitorApi` facade. */
  private def facade(spark: SparkSession, source: MetricSource, jobData: String,
      r: Inputs.Request): String = {
    val p = params(r.path)
    def ts(k: String) = Timestamp.valueOf(p(k))
    r.route match {
      case "/api/evaluate" => MonitorApi.evaluateJson(spark, source, r.body, ts("now"))
      case "/api/render" => MonitorApi.renderJson(spark, source, p("target"), ts("from"), ts("until"))
      case "/api/backtest" =>
        MonitorApi.backtestJson(spark, source, r.body, ts("from"), ts("until"), p("step").toInt)
      case "/api/jobs/latest" => MonitorApi.latestRunsJson(spark, jobData)
    }
  }

  /** Every response must be a 200 and byte-equal to the facade's answer. */
  private def check(res: Result, spark: SparkSession, source: MetricSource, jobData: String,
      pool: Seq[Inputs.Request], calls: Seq[Call]): Unit = {
    def planted(i: Int) = Main.plant && i == calls.head.idx
    val expected = calls.map(_.idx).distinct.map(i => i -> facade(spark, source, jobData, pool(i)))
      .toMap.map { case (i, b) => i -> (if (planted(i)) b + " " else b) }
    calls.foreach { c =>
      if (c.code != 200) res.mismatch(s"${pool(c.idx).path}: HTTP ${c.code} ${c.body.take(200)}")
      else if (c.body != expected(c.idx))
        res.mismatch(s"${pool(c.idx).path}: body differs from the serial facade call" +
          (if (planted(c.idx)) " (planted)" else ""))
    }
    res.attempted = calls.size
    res.details("distinct_requests_checked") = expected.size.toString
  }

  /** Time the dsl and engine layers' public functions on the pool's
    * own specs and targets. */
  private def layerProbes(res: Result, spark: SparkSession, source: MetricSource,
      pool: Seq[Inputs.Request]): Unit = {
    val bodies = pool.filter(_.body.nonEmpty)
    val parse = bodies.map(r => Stats.timeMs(MonitorApi.parseSpec(spark, r.body))._2)
    res.metric("engine.parse_spec_ms", Stats.median(parse), "ms", parse.size)
    val specs = bodies.map(r => MonitorApi.parseSpec(spark, r.body))
    val targets = specs.flatMap(_.targets) ++
      pool.filter(_.route == "/api/render").map(r => params(r.path)("target"))
    res.metric("dsl.target_parse_us", Probes.parseUs(targets.distinct), "us", targets.distinct.size)
    val exprs = specs.map(_.monitorExpr).distinct
    res.metric("dsl.monitor_compile_us", Probes.compileUs(exprs), "us", exprs.size)
    val now = Timestamp.valueOf("2024-01-15 12:00:00")
    val plan = specs.map(sp => Stats.timeMs(Planner.plan(spark, source, sp, now))._2)
    res.metric("engine.plan_build_ms", Stats.median(plan), "ms", plan.size)
  }
}
