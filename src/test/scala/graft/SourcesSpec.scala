package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.engine.Telemetry
import graft.series.{HoltWinters, SeriesOps}
import graft.sources.GraphiteRaw

class SourcesSpec extends SparkTestBase {
  import spark.implicits._

  test("S3: raw line parse handles None buckets and bad input") {
    val ok = GraphiteRaw.parseLine("a.b,100,400,60|1.0,None,3.0")
    assert(ok.toOption.get == GraphiteRaw.RawSeries("a.b", 100, 400, 60,
      Seq(Some(1.0), None, Some(3.0))))
    assert(GraphiteRaw.parseLine("no-bar-here").isLeft)
    assert(GraphiteRaw.parseLine("a,b|1,2").isLeft)
    assert(GraphiteRaw.parseLine("a,1,2,3|x").isLeft)
  }

  test("S3: raw → DataFrame → raw round-trips") {
    val lines = Seq(
      "m.one,1704067200,1704067380,60|1.5,None,3.5",
      "m.two,1704067200,1704067380,60|10.0,20.0,30.0")
    val df = GraphiteRaw.toDataFrame(spark, lines)
    assert(df.count() == 6)
    assert(df.filter(col("value").isNull).count() == 1)
    assert(GraphiteRaw.render(df) == Seq(
      "m.one,1704067200,1704067380,60|1.5,None,3.5",
      "m.two,1704067200,1704067380,60|10.0,20.0,30.0"))
  }

  test("J3 as-of join: nearest ≤ per key, inclusive at equal ts, null before first") {
    val left = Seq((1L, ts("00:05"), 100L), (1L, ts("00:10"), 101L), (2L, ts("00:01"), 102L))
      .toDF("k", "ts", "left_id")
    val right = Seq((1L, ts("00:03"), 3.0), (1L, ts("00:10"), 10.0), (2L, ts("00:02"), 2.0))
      .toDF("k", "ts", "v")
    val out = SeriesOps.asOfJoin(left, right, "k", "v")
      .orderBy("left_id").collect()
    assert(out(0).getDouble(out(0).fieldIndex("asof_value")) == 3.0) // 00:05 → 00:03
    assert(out(1).getDouble(out(1).fieldIndex("asof_value")) == 10.0) // equal ts inclusive
    assert(out(2).isNullAt(out(2).fieldIndex("asof_value"))) // no prior right row
  }

  test("A8 Holt-Winters: constant series converges to the constant, zero-width bands") {
    val pts = (0 until 50).map(i => HoltWinters.Pt(i * 60L, 42.0))
    val out = HoltWinters.smooth(pts, HoltWinters.Params())
    assert(out.forall { case (_, lvl, dev) => math.abs(lvl - 42.0) < 1e-9 && dev < 1e-9 })
  }

  test("A8 Holt-Winters: level spike inflates the deviation band (aberration detectable)") {
    val base = (0 until 50).map(i => HoltWinters.Pt(i * 60L, 100.0))
    val spike = base :+ HoltWinters.Pt(50 * 60L, 500.0)
    val out = HoltWinters.smooth(spike, HoltWinters.Params())
    val (pt, lvl, dev) = out.last
    assert(pt.value > lvl + 3 * 0.9 * dev || dev > 1.0) // spike escapes the band
  }

  test("S8 telemetry listener records action timings") {
    Telemetry.install(spark)
    Telemetry.drain() // clear
    Seq(1, 2, 3).toDF("x").count()
    // listener fires asynchronously; allow a moment
    val deadline = System.currentTimeMillis() + 5000
    var got = Seq.empty[Telemetry.Timing]
    while (got.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(100); got = Telemetry.drain()
    }
    assert(got.nonEmpty && got.forall(!_.failed))
  }

  private def ts(hm: String): Timestamp = Timestamp.valueOf(s"2024-01-01 $hm:00")
}
