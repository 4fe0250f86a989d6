package graftbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Output checks: a result digest that survives last-bit floating-point
  * differences, and a naive per-series recomputation of the raw-selector
  * and sum_over_time panels from the generated samples. */
object Checks {

  /** One range-query result: series key (sorted `name=value` pairs) to its
    * (step ms, value) points in time order. */
  type Result = Map[String, Seq[(Long, Double)]]

  private val mapper = new ObjectMapper()

  def key(labels: Iterable[(String, String)]): String =
    labels.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")

  /** Parses a `/api/v1/query_range` body. Throws unless status is success. */
  def parseRange(body: Array[Byte]): Result = {
    val root = mapper.readTree(body)
    require(root.path("status").asText() == "success", s"status ${root.path("status").asText()}")
    val data = root.path("data")
    require(data.path("resultType").asText() == "matrix", "not a matrix result")
    val it = data.path("result").elements()
    val b = Map.newBuilder[String, Seq[(Long, Double)]]
    while (it.hasNext) {
      val s = it.next()
      val labels = fields(s.path("metric"))
      val pts = Seq.newBuilder[(Long, Double)]
      val vs = s.path("values").elements()
      while (vs.hasNext) {
        val p = vs.next()
        pts += ((math.round(p.get(0).asDouble() * 1000), parseValue(p.get(1).asText())))
      }
      b += key(labels) -> pts.result()
    }
    b.result()
  }

  /** Parses a `/api/v1/label/<name>/values` body. */
  def parseLabelValues(body: Array[Byte]): Seq[String] = {
    val root = mapper.readTree(body)
    require(root.path("status").asText() == "success", s"status ${root.path("status").asText()}")
    val out = Seq.newBuilder[String]
    val it = root.path("data").elements()
    while (it.hasNext) out += it.next().asText()
    out.result()
  }

  private def fields(n: JsonNode): Seq[(String, String)] = {
    val out = Seq.newBuilder[(String, String)]
    val it = n.fields()
    while (it.hasNext) { val e = it.next(); out += e.getKey -> e.getValue.asText() }
    out.result()
  }

  def parseValue(s: String): Double = s match {
    case "+Inf" | "Inf" => Double.PositiveInfinity
    case "-Inf" => Double.NegativeInfinity
    case "NaN" => Double.NaN
    case _ => s.toDouble
  }

  /** `v` rounded to 6 significant digits: cross-series sums may differ in
    * their last bits between runs, their first 6 digits do not. */
  def rounded(v: Double): String =
    if (v.isNaN) "NaN"
    else if (v.isInfinite) (if (v > 0) "+Inf" else "-Inf")
    else if (v == 0.0) "0"
    else new JBigDecimal(v).round(new MathContext(6)).stripTrailingZeros().toString

  def digest(r: Result): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    r.toSeq.sortBy(_._1).foreach { case (k, pts) =>
      md.update(k.getBytes(StandardCharsets.UTF_8))
      pts.foreach { case (t, v) => md.update(s"\n$t ${rounded(v)}".getBytes(StandardCharsets.UTF_8)) }
      md.update("\n;\n".getBytes(StandardCharsets.UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Samples of one series for the naive recomputation. */
  final case class Raw(labels: Map[String, String], ts: Array[Long], vs: Array[Double])

  private def steps(startMs: Long, endMs: Long, stepMs: Long): Seq[Long] =
    Iterator.iterate(startMs)(_ + stepMs).takeWhile(_ <= endMs).toSeq

  /** `<selector>` as a range query: the newest sample in (t - lookback, t]. */
  def naiveRaw(series: Seq[Raw], startMs: Long, endMs: Long, stepMs: Long,
               lookbackMs: Long = 300000L): Result =
    naive(series, startMs, endMs, stepMs, keepName = true) { (s, lo, hi) =>
      if (hi > lo) Some(s.vs(hi - 1)) else None
    }(lookbackMs)

  /** `sum_over_time(<selector>[window])`. */
  def naiveSumOverTime(series: Seq[Raw], startMs: Long, endMs: Long, stepMs: Long,
                       windowMs: Long): Result =
    naive(series, startMs, endMs, stepMs, keepName = false) { (s, lo, hi) =>
      if (hi > lo) Some((lo until hi).map(s.vs(_)).sum) else None
    }(windowMs)

  private def naive(series: Seq[Raw], startMs: Long, endMs: Long, stepMs: Long,
                    keepName: Boolean)(f: (Raw, Int, Int) => Option[Double])
                   (windowMs: Long): Result = {
    val grid = steps(startMs, endMs, stepMs)
    series.flatMap { s =>
      val pts = grid.flatMap { t =>
        // samples with t - window < ts <= t
        val lo = lowerBound(s.ts, t - windowMs + 1)
        val hi = lowerBound(s.ts, t + 1)
        f(s, lo, hi).map(t -> _)
      }
      val labels = if (keepName) s.labels else s.labels - "__name__"
      if (pts.isEmpty) None else Some(key(labels) -> pts)
    }.groupBy(_._1).map { case (k, vs) =>
      require(vs.size == 1, s"two series share the key $k")
      k -> vs.head._2
    }
  }

  private def lowerBound(xs: Array[Long], x: Long): Int = {
    var lo = 0
    var hi = xs.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (xs(m) < x) lo = m + 1 else hi = m }
    lo
  }

  /** None when `got` matches `want` (same series, same steps, values
    * within 1e-9 relative), else a one-line description of the first
    * difference. */
  def compare(got: Result, want: Result): Option[String] = {
    val missing = want.keySet -- got.keySet
    val extra = got.keySet -- want.keySet
    if (missing.nonEmpty) Some(s"${missing.size} series missing, e.g. ${missing.head}")
    else if (extra.nonEmpty) Some(s"${extra.size} unexpected series, e.g. ${extra.head}")
    else want.iterator.flatMap { case (k, w) =>
      val g = got(k)
      if (g.map(_._1) != w.map(_._1)) Some(s"$k: steps differ")
      else g.zip(w).collectFirst {
        case ((t, a), (_, b)) if !(a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))) =>
          s"$k at $t: got $a, want $b"
      }
    }.nextOption()
  }
}
