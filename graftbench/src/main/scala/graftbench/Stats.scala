package graftbench

/** Summary statistics over a run's operations. */
object Stats {

  /** NaN for no samples. */
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** A tail percentile that keeps at least `minBeyond` samples above it:
    * the nearest-rank `q` quantile when enough samples lie beyond it, else
    * the highest rank that still leaves `minBeyond` beyond, and never below
    * the median. Returns (value, the percentile actually used, n). */
  def tail(xs: Seq[Double], q: Double = 0.9, minBeyond: Int = 10): (Double, Double, Int) =
    if (xs.isEmpty) (Double.NaN, q, 0) else {
    val s = xs.sorted
    val n = s.size
    val nearest = math.ceil(q * n).toInt - 1
    val idx = math.min(nearest, n - 1 - minBeyond)
    if (idx <= (n - 1) / 2) (median(s), 0.5, n)
    else (s(idx), (idx + 1).toDouble / n, n)
  }

  /** Ack-to-visible latency: for each ack at time `a`, the end of the
    * first drain call that began strictly after `a`, minus `a`. Acks with
    * no such drain are left out. Drains are (start, end) pairs. */
  def visibleLatencies(acks: Seq[Long], drains: Seq[(Long, Long)]): Seq[Long] = {
    val sorted = drains.sortBy(_._1).toArray
    val starts = sorted.map(_._1)
    acks.flatMap { a =>
      // first index with start > a
      var lo = 0
      var hi = starts.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (starts(mid) > a) hi = mid else lo = mid + 1
      }
      if (lo < sorted.length) Some(sorted(lo)._2 - a) else None
    }
  }
}
