package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.operators.{PeriodicSamples, RangeFn, RangeFns}
import graft.promql.Matchers.regexMatch

/** Randomized equivalence checks (fixed seed, deterministic): the kernel
  * against a naive per-window evaluation, and the simplified regex
  * matchers against anchored rlike — the property-testing layer the
  * reference covers with its iterator/regex unit suites. */
class KernelPropertySpec extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = GraftSession.builder("local[4]", "4").getOrCreate()
  import spark.implicits._

  test("window aggregates match naive evaluation on 20 random series") {
    val rnd = new scala.util.Random(20260812)
    val series: Seq[(Int, Seq[(Long, Double)])] = (0 until 20).map { sid =>
      val n = 1 + rnd.nextInt(40)
      sid -> Seq.fill(n)((rnd.nextInt(10000).toLong + 1, rnd.nextDouble() * 200 - 100))
    }
    val df = series.flatMap { case (sid, ss) => ss.map { case (t, v) => (sid, t, v) } }
      .toDF("sid", "ts", "value")
    val (start, end, step, w) = (1000L, 10000L, 1000L, 3000L)

    def naive(fn: String, ss: Seq[(Long, Double)], t: Long): Option[Double] = {
      val win = ss.filter(s => s._1 > t - w && s._1 <= t).map(_._2)
      if (win.isEmpty) None
      else Some(fn match {
        case "sum" => win.sum
        case "count" => win.size.toDouble
        case "min" => win.min
        case "max" => win.max
        case "avg" => win.sum / win.size
        case "stddev" =>
          val m = win.sum / win.size
          math.sqrt(win.map(x => (x - m) * (x - m)).sum / win.size)
      })
    }

    for (fnName <- Seq("sum_over_time", "count_over_time", "min_over_time",
                       "max_over_time", "avg_over_time", "stddev_over_time")) {
      val out = PeriodicSamples(df, Seq("sid"), "ts", "value",
        start, end, step, w, RangeFns.byName(fnName))
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val short = fnName.stripSuffix("_over_time")
      series.foreach { case (sid, ss) =>
        (start to end by step).foreach { t =>
          naive(short, ss, t) match {
            case Some(exp) =>
              withClue(s"$fnName sid=$sid t=$t") {
                out((sid, t)) shouldEqual exp +- math.max(1e-7, math.abs(exp) * 1e-9)
              }
            case None =>
              withClue(s"$fnName sid=$sid t=$t empty window") {
                out.contains((sid, t)) shouldBe false
              }
          }
        }
      }
    }
  }

  test("order-sensitive window functions match naive evaluation on random series") {
    val rnd = new scala.util.Random(20260814)
    // unique, shuffled timestamps per series: the ordered-window functions
    // must see ts-sorted samples regardless of arrival order
    val series: Seq[(Int, Seq[(Long, Double)])] = (0 until 15).map { sid =>
      val ts = rnd.shuffle((1 to 99).map(_ * 100L).toList).take(1 + rnd.nextInt(40))
      sid -> ts.map(t => (t, math.rint(rnd.nextDouble() * 100) / 10))
    }
    val df = rnd.shuffle(
        series.flatMap { case (sid, ss) => ss.map { case (t, v) => (sid, t, v) } })
      .toDF("sid", "ts", "value").repartition(5)
    val (start, end, step, w) = (1000L, 10000L, 900L, 2800L)

    def naive(fn: String, ss: Seq[(Long, Double)], t: Long): Option[Double] = {
      val win = ss.filter(s => s._1 > t - w && s._1 <= t).sortBy(_._1).map(_._2)
      if (win.isEmpty) None
      else Some(fn match {
        case "resets" => win.sliding(2).count { case Seq(a, b) => b < a; case _ => false }.toDouble
        case "changes" => win.sliding(2).count { case Seq(a, b) => b != a; case _ => false }.toDouble
        case "idelta" =>
          if (win.size < 2) Double.NaN else win.last - win(win.size - 2)
        case "quantile" =>
          val xs = win.sorted
          val rank = 0.7 * (xs.size - 1)
          val lo = math.floor(rank).toInt
          val hi = math.min(lo + 1, xs.size - 1)
          xs(lo) + (rank - lo) * (xs(hi) - xs(lo))
        case "z_score" =>
          val m = win.sum / win.size
          val sd = math.sqrt(win.map(x => (x - m) * (x - m)).sum / win.size)
          (win.last - m) / sd
        case "mad" =>
          def q50(xs: Seq[Double]) = {
            val s = xs.sorted
            val rank = 0.5 * (s.size - 1)
            val lo = math.floor(rank).toInt
            val hi = math.min(lo + 1, s.size - 1)
            s(lo) + (rank - lo) * (s(hi) - s(lo))
          }
          val med = q50(win)
          q50(win.map(v => math.abs(v - med)))
      })
    }

    for (fnName <- Seq("resets", "changes", "idelta", "quantile_over_time:0.7",
                       "z_score", "mad_over_time")) {
      val fn = fnName.split(":") match {
        case Array(n, p) => RangeFns.byName(n, Seq(p.toDouble))
        case Array(n) => RangeFns.byName(n)
      }
      val short = fnName match {
        case "quantile_over_time:0.7" => "quantile"
        case "mad_over_time" => "mad"
        case other => other
      }
      val out = PeriodicSamples(df, Seq("sid"), "ts", "value",
        start, end, step, w, fn)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2)).toMap
      series.foreach { case (sid, ss) =>
        (start to end by step).foreach { t =>
          naive(short, ss, t) match {
            case Some(exp) if exp.isInfinite => // z_score with sd=0, last != mean
              withClue(s"$fnName sid=$sid t=$t") { out((sid, t)) shouldEqual exp }
            case Some(exp) if !exp.isNaN =>
              withClue(s"$fnName sid=$sid t=$t") {
                out((sid, t)) shouldEqual exp +- math.max(1e-9, math.abs(exp) * 1e-12)
              }
            case Some(_) => // NaN result (e.g. idelta on 1 sample, sd=0):
              // kernel may emit NaN or elide; only require no wrong number
              out.get((sid, t)).foreach(v => assert(v.isNaN,
                s"$fnName sid=$sid t=$t: expected NaN-ish, got $v"))
            case None =>
              withClue(s"$fnName sid=$sid t=$t empty window") {
                out.contains((sid, t)) shouldBe false
              }
          }
        }
      }
    }
  }

  test("kernel matches a plain-Scala per-step oracle exactly on adversarial input") {
    // unsorted arrival order, duplicate timestamps disambiguated by tie,
    // counter resets, NaN (no-data) samples, a null tie and an offset
    val rnd = new scala.util.Random(424242)
    val rows = (0 until 30).flatMap { sid =>
      val n = 1 + rnd.nextInt(60)
      (0 until n).map { i =>
        val ts = (rnd.nextInt(50) * 200 + 100).toLong // collisions on purpose
        val v = if (rnd.nextInt(12) == 0) Double.NaN else rnd.nextDouble() * 1000
        // the null tie counts as 0, below every other tie of its series
        (s"s$sid", ts, v, if (i == 0) None else Some(i.toLong + 1))
      }
    }
    val df = rnd.shuffle(rows).toDF("skey", "ts", "value", "tie").repartition(7)
    val (start, end, step, w, offset) = (1000L, 10000L, 700L, 2500L, 300L)

    def oracle(fn: RangeFn): Map[(String, Long), Double] =
      rows.groupBy(_._1).toSeq.flatMap { case (sid, ss) =>
        val scanned = ss
          .filter(r => !r._3.isNaN && r._2 > start - offset - w && r._2 <= end - offset)
          .sortBy(r => (r._2, r._4.getOrElse(0L)))
        val ts = scanned.map(_._2).toArray
        val vs = scanned.map(_._3).toArray
        if (fn.needsCounterCorrection) PeriodicSamples.monotonize(vs)
        (start to end by step).flatMap { t =>
          val (wStart, wEnd) = (t - offset - w, t - offset)
          val in = ts.indices.filter(i => ts(i) > wStart && ts(i) <= wEnd)
          if (in.isEmpty) None
          else {
            val v = fn.eval(in.map(ts).toArray, in.map(vs).toArray, 0, in.size, wStart, wEnd)
            if (v.isNaN) None else Some((sid, t) -> v)
          }
        }
      }.toMap

    for (fnName <- Seq("sum_over_time", "rate", "increase", "last_over_time",
                       "irate", "deriv", "quantile_over_time:0.7")) {
      val fn = fnName.split(":") match {
        case Array(n, p) => RangeFns.byName(n, Seq(p.toDouble))
        case Array(n) => RangeFns.byName(n)
      }
      val name = fnName.split(":").head
      val got = PeriodicSamples(df, Seq("skey"), "ts", "value", start, end, step, w,
        fn, offsetMs = offset, tieCol = Some("tie"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val want = oracle(fn)
      want should not be empty
      withClue(s"$name: keys") { got.keySet shouldEqual want.keySet }
      want.foreach { case (k, v) =>
        withClue(s"$name at $k") { got(k) shouldEqual v }
      }
    }
  }

  test("staleness-marker cutoff matches a plain-Scala per-step oracle") {
    // random live/marker mixes: markers of any value (NaN, null, a
    // number), markers at a live sample's ts, past the window end and
    // older than the newest live sample; NaN and null-flag live rows; an
    // offset. A step is cut when the newest marker in its window is at or
    // after the window's newest live sample.
    val rnd = new scala.util.Random(31337)
    val rows = (0 until 30).flatMap { sid =>
      val n = 1 + rnd.nextInt(50)
      (0 until n).map { i =>
        val ts = (rnd.nextInt(60) * 200 + 100).toLong // collisions on purpose
        if (rnd.nextInt(5) == 0)
          (s"s$sid", ts, rnd.nextInt(3) match {
            case 0 => Some(Double.NaN); case 1 => None; case _ => Some(7.0)
          }, i.toLong, Some(true))
        else
          (s"s$sid", ts, Some(if (rnd.nextInt(12) == 0) Double.NaN else rnd.nextDouble() * 1000),
            i.toLong, if (rnd.nextBoolean()) Some(false) else None)
      }
    }
    val df = rnd.shuffle(rows).toDF("skey", "ts", "value", "tie", "stale").repartition(7)
    val (start, end, step, w, offset) = (1000L, 12000L, 700L, 2500L, 300L)

    var (cut, kept, tied) = (0, 0, 0)
    def oracle(fn: RangeFn): Map[(String, Long), Double] =
      rows.groupBy(_._1).toSeq.flatMap { case (sid, ss) =>
        val scanned = ss.filter(r => r._2 > start - offset - w && r._2 <= end - offset)
        val markers = scanned.filter(_._5.contains(true)).map(_._2)
        val live = scanned
          .filter(r => !r._5.contains(true) && !r._3.get.isNaN)
          .sortBy(r => (r._2, r._4))
        val ts = live.map(_._2).toArray
        val vs = live.map(_._3.get).toArray
        if (fn.needsCounterCorrection) PeriodicSamples.monotonize(vs)
        (start to end by step).flatMap { t =>
          val (wStart, wEnd) = (t - offset - w, t - offset)
          val in = ts.indices.filter(i => ts(i) > wStart && ts(i) <= wEnd)
          val mk = markers.filter(m => m > wStart && m <= wEnd)
          if (in.isEmpty) None
          else if (mk.nonEmpty && mk.max >= ts(in.last)) {
            cut += 1
            if (mk.max == ts(in.last)) tied += 1
            None
          } else {
            if (mk.nonEmpty) kept += 1
            val v = fn.eval(in.map(ts).toArray, in.map(vs).toArray, 0, in.size, wStart, wEnd)
            if (v.isNaN) None else Some((sid, t) -> v)
          }
        }
      }.toMap

    for (fnName <- Seq("last_over_time", "timestamp", "present_over_time", "rate")) {
      val fn = RangeFns.byName(fnName)
      val got = PeriodicSamples(df, Seq("skey"), "ts", "value", start, end, step, w,
        fn, offsetMs = offset, tieCol = Some("tie"), staleCol = Some("stale"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val want = oracle(fn)
      want should not be empty
      withClue(s"$fnName: keys") { got.keySet shouldEqual want.keySet }
      want.foreach { case (k, v) =>
        withClue(s"$fnName at $k") { got(k) shouldEqual v }
      }
    }
    // the mix exercised every branch of the rule
    cut should be > 0
    kept should be > 0
    tied should be > 0
  }

  test("simplified regex matchers are equivalent to anchored rlike") {
    val values = Seq("purchase", "purchase2", "view", "1", "12", "21", "a|b",
      "foo.bar", "fooXbar", "", "x", "prefix", "prefixtail")
    val patterns = Seq(
      "purchase", "purchase|view", "1|2|3", "1.*", "prefix.*", "p.*e",
      "[pv].*", "foo\\.bar", "(foo|bar).*", "a|b", ".*", "x?", "")
    val df = values.toDF("v")
    patterns.foreach { p =>
      val simplified = df.filter(regexMatch(col("v"), p)).as[String].collect().sorted
      val reference = df.filter(col("v").rlike("^(?:" + p + ")$")).as[String].collect().sorted
      withClue(s"pattern '$p'")(simplified shouldEqual reference)
    }
  }
}
