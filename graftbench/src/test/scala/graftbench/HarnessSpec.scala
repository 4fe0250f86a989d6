package graftbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("the generator is deterministic per seed and differs across seeds") {
    val a = Gen.dashboardSeries(7, nGauge = 100, nHist = 12)
    assert(a == Gen.dashboardSeries(7, nGauge = 100, nHist = 12))
    assert(a != Gen.dashboardSeries(8, nGauge = 100, nHist = 12))
    assert(a.size == 100 + 100 + 12 * 8)
    val values = a.map(s => (0 until 720).map(k => Gen.value(s, k.toLong)))
    assert(values == Gen.dashboardSeries(7, 100, 12).map(s => (0 until 720).map(k => Gen.value(s, k.toLong))))
    // distinct gauge levels: topk never meets a tie
    assert(a.filter(_.metric == Gen.Gauge).map(_.base).distinct.size == 100)

    val t = new Gen.Traffic(7, nSeries = 20000, perPost = 2000)
    val u = new Gen.Traffic(7, nSeries = 20000, perPost = 2000)
    assert((0 until 20000 by 97).forall(p => t.series(p, 42) == u.series(p, 42)))
    assert(new Gen.Traffic(8, 20000, 2000).series(3, 42) != t.series(3, 42))
    // one percent of the positions churn per round
    val churned = (0 until 20000).count(p => t.generation(p, 43) != t.generation(p, 42))
    assert(churned == 200)
  }

  test("the Spark samples frame matches the plain-Scala values") {
    val spark = SparkSession.builder().master("local[2]").appName("graftbench-spec")
      .config("spark.ui.enabled", "false").config("spark.sql.ansi.enabled", "false").getOrCreate()
    try {
      val series = Gen.dashboardSeries(3, nGauge = 4, nHist = 1)
      val rows = Gen.samplesFrame(spark, series, 300).collect()
      assert(rows.length == series.size * 300)
      val want = (for (s <- series; k <- 0 until 300)
        yield ((s.metric, s.tags, Gen.T0 + k * Gen.IntervalMs), Gen.value(s, k.toLong))).toMap
      rows.foreach { r =>
        val key = (r.getString(0), r.getMap[String, String](1).toMap, r.getLong(2))
        assert(want(key) == r.getDouble(3), s"value at $key")
      }
    } finally spark.stop()
  }

  test("the tail percentile keeps at least 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == ((90.0, 0.9, 100)))
    // 50 samples: p90 would leave 5 beyond; the highest rank leaving 10 is the 40th
    val (v50, p50, _) = Stats.tail((1 to 50).map(_.toDouble))
    assert(v50 == 40.0 && p50 == 0.8)
    assert((1 to 50).count(_ > v50) == 10)
    // too few samples for any tail: the median
    assert(Stats.tail((1 to 15).map(_.toDouble))._1 == 8.0)
    assert(Stats.tail(Seq(2.0, 1.0))._1 == 1.5)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Nil).isNaN)
  }

  test("visibility is the end of the first drain that began after the ack") {
    // drains (start, end); acks at the given times
    val drains = Seq((10L, 20L), (22L, 30L), (30L, 45L))
    val acks = Seq(5L, 10L, 21L, 29L, 30L, 50L)
    // 5 -> the drain at 10 ends at 20; 10 -> not the drain that began at
    // 10 but the one at 22; 21 -> 22..30; 29 -> 30..45; 30 and 50 -> none
    assert(Stats.visibleLatencies(acks, drains) == Seq(15L, 20L, 9L, 16L))
    assert(Stats.visibleLatencies(acks, drains.reverse) == Seq(15L, 20L, 9L, 16L))
  }

  private def body(r: Checks.Result): Array[Byte] = {
    val series = r.toSeq.map { case (k, pts) =>
      val metric = k.split(",").map(_.split("=", 2)).map(a => s""""${a(0)}":"${a(1)}"""").mkString("{", ",", "}")
      val values = pts.map { case (t, v) => s"""[${t / 1000.0},"$v"]""" }.mkString(",")
      s"""{"metric":$metric,"values":[$values]}"""
    }
    s"""{"status":"success","data":{"resultType":"matrix","result":[${series.mkString(",")}]}}""".getBytes(UTF_8)
  }

  test("naive recomputation: newest sample and window sum over (t - w, t]") {
    val raw = Checks.Raw(Map("__name__" -> "m", "a" -> "1"), Array(0L, 100L, 200L), Array(1.0, 2.0, 4.0))
    assert(Checks.naiveRaw(Seq(raw), 100L, 300L, 100L, lookbackMs = 150L) ==
      Map("__name__=m,a=1" -> Seq((100L, 2.0), (200L, 4.0), (300L, 4.0))))
    // the window is open on the left: at t=200 with w=100 only ts=200 counts
    assert(Checks.naiveSumOverTime(Seq(raw), 100L, 400L, 100L, windowMs = 100L) ==
      Map("a=1" -> Seq((100L, 2.0), (200L, 4.0))))
  }

  test("a perturbed result fails the naive check and the digest check") {
    val reads = new Reads(null, seed = 5, cores = 4, expectedDigests = None)
    val end = Gen.T0 + 720 * Gen.IntervalMs
    val raws = Gen.dashboardSeries(5, 100, 12).filter(_.metric == Gen.Gauge).map { s =>
      Checks.Raw(s.tags + ("__name__" -> s.metric), Array.tabulate(720)(k => Gen.T0 + k * Gen.IntervalMs),
        Array.tabulate(720)(k => Gen.value(s, k.toLong)))
    }
    val good = Checks.naiveRaw(raws, end - Dashboard.RangeMs, end, Dashboard.StepMs)
    assert(reads.verify(0, body(good)).isEmpty)
    val (k, pts) = good.head
    val bad = good.updated(k, pts.updated(3, (pts(3)._1, pts(3)._2 + 1)))
    assert(reads.verify(0, body(bad)).exists(_.contains("got")))
    assert(reads.verify(0, body(good - k)).exists(_.contains("missing")))

    // digests ignore last-bit noise, not real differences
    val d = Checks.digest(good)
    assert(Checks.digest(good.map { case (kk, ps) => kk -> ps.map { case (t, v) => (t, v * (1 + 1e-14)) } }) == d)
    assert(Checks.digest(bad) != d)
    val withDigests = new Reads(null, seed = 5, cores = 4,
      expectedDigests = Some(Seq.fill(8)(Checks.digest(bad))))
    assert(withDigests.verify(1, body(good)).exists(_.contains("digest")))
    assert(withDigests.verify(1, body(bad)).isEmpty)
  }

  test("BENCHMARK.json names each metric once, with a unit, and setup_s first") {
    val (e2e, layers) = MetricSpec.load("../BENCHMARK.json")
    val names = (e2e ++ layers).map(_.name)
    assert(names.distinct.size == names.size)
    assert(e2e.headOption.contains(MetricSpec("setup_s", "s")))
    assert(layers.nonEmpty && (e2e ++ layers).forall(_.unit.nonEmpty))
  }
}
