package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic inputs. Every value is a pure function of the seed and a
  * few integers, computed with integer arithmetic only, so the Spark frames
  * built here and the plain-Scala recomputations in [[Checks]] agree bit
  * for bit, and the same seed always gives the same data. */
object Gen {
  val T0: Long = 1704067200000L // 2024-01-01T00:00:00Z
  val IntervalMs: Long = 10000L
  val Les: Seq[String] = Seq("0.005", "0.01", "0.025", "0.05", "0.1", "0.25", "1", "+Inf")
  /** Counters reset every CounterPeriod samples at a per-series offset. */
  val CounterPeriod: Int = 240

  val Gauge = "heap_usage0"
  val Counter = "http_requests_total"
  val Bucket = "http_request_duration_seconds_bucket"

  def splitMix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A non-negative pseudo-random int below `bound` for (seed, salt, i). */
  def pick(seed: Long, salt: Long, i: Long, bound: Int): Int =
    java.lang.Math.floorMod(splitMix(splitMix(seed * 1000003L + salt) + i), bound.toLong).toInt

  /** One generated series: its labels (without `__name__`) and the
    * parameters of its value function. */
  final case class Series(metric: String, tags: Map[String, String],
                          base: Long, a: Long, b: Long, inc: Long, off: Long, w: Long)

  /** Gauge value: base + ((k*a + b) mod 101), an integer. */
  def gaugeValue(s: Series, k: Long): Double = (s.base + java.lang.Math.floorMod(k * s.a + s.b, 101L)).toDouble

  /** Counter value: rises by inc+m/8 per sample and resets to 0 every
    * CounterPeriod samples at a per-series offset; buckets scale by w. */
  def counterValue(s: Series, k: Long): Double = {
    val m = java.lang.Math.floorMod(k + s.off, CounterPeriod.toLong)
    (s.w * (s.inc * m + m * m / 8)).toDouble
  }

  def value(s: Series, k: Long): Double =
    if (s.metric == Gauge) gaugeValue(s, k) else counterValue(s, k)

  /** The dashboard population, all in `_ns_="App-2"` like FiloDB's
    * in-memory benchmark: `nGauge` gauge series, as many counters, and
    * `nHist` histograms of 8 buckets. */
  def dashboardSeries(seed: Long, nGauge: Int, nHist: Int): Seq[Series] = {
    def common(i: Int) = Map("instance" -> f"inst-$i%05d", "job" -> s"job-${i % 8}",
      "_ws_" -> "demo", "_ns_" -> "App-2")
    // a seeded permutation of 0..nGauge-1 keeps every gauge's level distinct
    // (no ties for topk) while moving which series holds which level
    val stride = Iterator.from(pick(seed, 1, 0, nGauge) + 1).find(x => gcd(x, nGauge) == 1).get
    val shift = pick(seed, 2, 0, nGauge)
    val gauges = (0 until nGauge).map { i =>
      Series(Gauge, common(i), base = 1000L * ((i.toLong * stride + shift) % nGauge + 1),
        a = 1 + pick(seed, 3, i, 100), b = pick(seed, 4, i, 101), inc = 0, off = 0, w = 1)
    }
    val counters = (0 until nGauge).map { i =>
      Series(Counter, common(i), 0, 0, 0, inc = 1 + pick(seed, 5, i, 20),
        off = pick(seed, 6, i, CounterPeriod), w = 1)
    }
    val buckets = for (h <- 0 until nHist; (le, b) <- Les.zipWithIndex) yield {
      // cumulative bucket weights, increasing in `le` and shaped per
      // histogram; nothing above le=1, so the 0.9 quantile interpolates
      val w = (0 to math.min(b, Les.size - 2)).map(j => 1L + pick(seed, 9, h * Les.size + j, 5)).sum
      Series(Bucket, common(h) + ("le" -> le), 0, 0, 0,
        inc = 1 + pick(seed, 7, h, 20), off = pick(seed, 8, h, CounterPeriod), w = w)
    }
    gauges ++ counters ++ buckets
  }

  private def gcd(a: Int, b: Int): Int = if (b == 0) a else gcd(b, a % b)

  /** The canonical samples frame (metric, tags, ts, value) for `series`
    * over samples k = 0 until nSamples at T0 + k*IntervalMs. Built in
    * Spark from a small per-series parameter frame, with the same integer
    * formulas as [[value]]. */
  def samplesFrame(spark: SparkSession, series: Seq[Series], nSamples: Int): DataFrame = {
    import spark.implicits._
    val params = series.map(s => (s.metric, s.tags, s.base, s.a, s.b, s.inc, s.off, s.w))
      .toDF("metric", "tags", "base", "a", "b", "inc", "off", "w")
    val k = col("k")
    val m = pmod(k + col("off"), lit(CounterPeriod.toLong))
    val v = when(col("metric") === Gauge, col("base") + pmod(k * col("a") + col("b"), lit(101L)))
      .otherwise(col("w") * (col("inc") * m + floor(m * m / 8).cast("long")))
    params.crossJoin(spark.range(nSamples).withColumnRenamed("id", "k"))
      .select(col("metric"), col("tags"), (lit(T0) + k * IntervalMs).as("ts"),
        v.cast("double").as("value"))
  }

  // ----- remote-write traffic ---------------------------------------------

  /** A standing population of `nSeries` gauge series in POST slots of
    * `perPost`; each scrape round (10 s of data time) replaces 1% of the
    * positions with new series. Position p's generation at round r counts
    * the churn rounds it has passed: it churns when (r + phase(p)) % 100 == 0. */
  final class Traffic(seed: Long, val nSeries: Int, val perPost: Int) {
    val slots: Int = (nSeries + perPost - 1) / perPost
    // each block of 100 positions holds every phase once: exactly 1% churn
    private val phase = Array.tabulate(nSeries)(p => (p + pick(seed, 11, p / 100, 100)) % 100)
    def generation(p: Int, r: Long): Long = (r + phase(p)) / 100

    /** The series at position p in round r. */
    def series(p: Int, r: Long): Series = {
      val uid = generation(p, r) * nSeries + p
      Series(s"rw_metric_${p % 10}", Map("instance" -> f"host-$uid%07d",
        "job" -> s"job-${p % 16}", "slot" -> (p / perPost).toString),
        base = 100L * (pick(seed, 13, uid, 1000) + 1), a = 1 + pick(seed, 3, uid, 100),
        b = pick(seed, 4, uid, 101), inc = 0, off = 0, w = 1)
    }

    def positions(slot: Int): Range =
      (slot * perPost) until math.min(nSeries, (slot + 1) * perPost)
  }
}
