package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** First-class bucketed histograms (SURVEY.md §1.2 `hist`, §2.4):
  * a histogram sample is (leBounds ARRAY<DOUBLE> ascending with +Inf last,
  * values ARRAY<DOUBLE> cumulative counts, sum, count).
  *
  * All functions are pure Catalyst column expressions (higher-order array
  * functions — codegen'd, no UDFs): quantile/fraction interpolate linearly
  * within a bucket exactly like Prometheus' histogramQuantile (the
  * reference delegates to the same algorithm,
  * core/.../format/vectors/Histogram.scala:65-118).
  */
object Histograms {

  val DefaultBounds: Seq[Double] = Seq(10, 50, 100, 200, Double.PositiveInfinity)

  /** Build per-group cumulative histograms from raw values.
    * Output: keyCols..., le ARRAY<DOUBLE>, values ARRAY<DOUBLE> (cumulative),
    * sum, count. The aggregation is a single groupBy — partial-aggregated
    * map-side, so the shuffle carries one bucket array per group. */
  def fromValues(df: DataFrame, keyCols: Seq[String], valueCol: String,
                 bounds: Seq[Double] = DefaultBounds): DataFrame = {
    val v = col(valueCol)
    val cum = bounds.map {
      case b if b.isPosInfinity => count(lit(1)).cast("double")
      case b => sum(when(v <= b, 1.0).otherwise(0.0))
    }
    df.groupBy(keyCols.map(col): _*)
      .agg(array(cum: _*).as("values"),
        sum(v).as("sum"), count(lit(1)).cast("double").as("count"))
      .withColumn("le", array(bounds.map(lit): _*))
  }

  /** Prometheus histogram_quantile over one cumulative-bucket histogram.
    * - rank = phi * total (total = last bucket's cumulative count)
    * - first bucket with cum >= rank; +Inf bucket returns the previous
    *   bound; first bucket interpolates from 0. */
  def quantile(phi: Double, le: Column, values: Column): Column = {
    // φ outside [0,1] answers ±Inf before any bucket math (reference
    // Histogram.quantile, core/.../format/vectors/Histogram.scala:69-70;
    // upstream promql matches — r10 upstream-corpus finding)
    if (phi < 0) return lit(Double.NegativeInfinity)
    if (phi > 1) return lit(Double.PositiveInfinity)
    val n = size(values)
    val total = element_at(values, -1)
    val rank = lit(phi) * total
    // 1-based index of the target bucket
    val idx = element_at(
      filter(sequence(lit(1), n), i => element_at(values, i) >= rank),
      1)
    val lowerBound = when(idx === 1, lit(0.0)).otherwise(element_at(le, idx - 1))
    val upperBound = element_at(le, idx)
    val lowerCount = when(idx === 1, lit(0.0)).otherwise(element_at(values, idx - 1))
    val upperCount = element_at(values, idx)
    val interpolated = lowerBound +
      (upperBound - lowerBound) * (rank - lowerCount) / (upperCount - lowerCount)
    // n < 2: a lone +Inf bucket has no finite bound to interpolate against
    // (and element_at(le, 0) would throw) — Prometheus answers NaN.
    when(n < 2 || total <= 0 || idx.isNull, lit(Double.NaN))
      .when(idx === n, element_at(le, n - 1)) // +Inf bucket
      .otherwise(interpolated)
  }

  /** histogram_max_quantile / _even (max-min schemas): quantile whose
    * target-bucket bounds are clamped to the observed min/max — the +Inf
    * bucket interpolates toward the true max instead of pinning at the
    * last finite bound (reference Histogram.quantile(q, min, max),
    * core/.../format/vectors/Histogram.scala:65-108; clamp order matches:
    * min against the original bounds, max against the min-adjusted start).
    * `even` divides rank by count+1 (even-distribution mode). */
  def maxMinQuantile(phi: Double, le: Column, values: Column,
                     minObs: Column, maxObs: Column,
                     even: Boolean = false): Column = {
    // same ±Inf out-of-range φ contract as quantile (reference
    // Histogram.scala:69-70)
    if (phi < 0) return lit(Double.NegativeInfinity)
    if (phi > 1) return lit(Double.PositiveInfinity)
    val n = size(values)
    val total = element_at(values, -1)
    val rank = lit(phi) * total
    val idx = element_at(
      filter(sequence(lit(1), n), i => element_at(values, i) >= rank), 1)
    val start0 = when(idx === 1, lit(0.0)).otherwise(element_at(le, idx - 1))
    val end0 = element_at(le, idx)
    val start1 = when(minObs.isNotNull && minObs > start0 && minObs <= end0, minObs)
      .otherwise(start0)
    val end1 = when(maxObs.isNotNull && maxObs > start1 && maxObs <= end0, maxObs)
      .otherwise(end0)
    val cprev = when(idx === 1, lit(0.0)).otherwise(element_at(values, idx - 1))
    val count = element_at(values, idx) - cprev
    val frac =
      if (even) (rank - cprev) / (count + lit(1.0)) else (rank - cprev) / count
    when(total <= 0 || idx.isNull, lit(Double.NaN))
      // +Inf target bucket with maxObs not clamping: fall back to the last
      // finite bound; a single-bucket histogram has none (element_at(le, 0)
      // throws), so answer maxObs if known else NaN.
      .when(end1 === lit(Double.PositiveInfinity),
        when(n > 1, element_at(le, n - 1)).otherwise(coalesce(maxObs, lit(Double.NaN))))
      .otherwise(start1 + (end1 - start1) * frac)
  }

  /** Fraction of observations in (lo, hi], interpolating within buckets.
    * Edge contract per upstream histogramFraction: NaN bounds answer NaN;
    * an empty/inverted interval answers 0; the interpolated CDF clamps
    * into [0, total], so -Inf (or any bound below the first bucket's
    * assumed 0 lower edge) reads 0 mass and +Inf reads all of it —
    * without the clamp, interpolating toward -Inf diverges. */
  def fraction(lo: Double, hi: Double, le: Column, values: Column): Column = {
    if (lo.isNaN || hi.isNaN) return lit(Double.NaN)
    if (hi <= lo) return lit(0.0)
    val total = element_at(values, -1)
    def cdf(x: Double): Column =
      greatest(lit(0.0), least(cumAt(x, le, values), total))
    (cdf(hi) - cdf(lo)) / total
  }

  /** Interpolated cumulative count at threshold x. */
  private def cumAt(x: Double, le: Column, values: Column): Column = {
    val n = size(values)
    val idx = element_at(filter(sequence(lit(1), n), i => element_at(le, i) >= x), 1)
    val lowerBound = when(idx === 1, lit(0.0)).otherwise(element_at(le, idx - 1))
    val upperBound = element_at(le, idx)
    val lowerCount = when(idx === 1, lit(0.0)).otherwise(element_at(values, idx - 1))
    val upperCount = element_at(values, idx)
    when(idx.isNull, element_at(values, -1)) // x above all bounds
      .when(idx === n, lowerCount + (upperCount - lowerCount)) // inf bucket: no interp
      .otherwise(lowerCount + (upperCount - lowerCount) *
        (lit(x) - lowerBound) / (upperBound - lowerBound))
  }

  /** Bucket-wise sum of histograms across rows (the reference's
    * HistSumRowAggregator): explode to (pos, bucketValue), sum per position,
    * reassemble sorted. */
  def sumBuckets(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val exploded = df.select(
      keyCols.map(col) ++ Seq(col("le"), posexplode(col("values"))): _*)
    exploded.groupBy((keyCols.map(col) :+ col("pos")): _*)
      .agg(first(col("le")).as("le"), sum(col("col")).as("bv"))
      .groupBy(keyCols.map(col): _*)
      .agg(
        first(col("le")).as("le"),
        sort_array(collect_list(struct(col("pos"), col("bv"))))
          .getField("bv").as("values"))
  }

  /** Bucket-wise rate/increase over HISTOGRAM-typed samples
    * (series..., ts, le, values): compose explode-to-bucket-series →
    * periodic counter kernel per (series, le) → regroup into histograms —
    * the reference's extrapolatedRateH (RateFunctions.scala:37-66)
    * expressed as existing operators. */
  def periodicBucketRate(df: DataFrame, seriesCols: Seq[String], tsCol: String,
                         startMs: Long, endMs: Long, stepMs: Long, windowMs: Long,
                         isRate: Boolean): DataFrame = {
    import graft.operators.{PeriodicSamples, RangeFns}
    val buckets = df.select(
      seriesCols.map(col) ++ Seq(col(tsCol).as("__bts"), posexplode(col("values"))): _*)
      .withColumnRenamed("col", "bucket_value")
    val fn = if (isRate) RangeFns.Rate else RangeFns.Increase
    val rated = PeriodicSamples(buckets, seriesCols :+ "pos", "__bts", "bucket_value",
      startMs, endMs, stepMs, windowMs, fn)
    rated.groupBy((seriesCols.map(col) :+ col("step_ts")): _*)
      .agg(sort_array(collect_list(struct(col("pos"), col("value"))))
        .getField("value").as("values"))
  }

  /** OTel base-2 exponential histogram support: bucket upper bound for
    * index i at `scale` is 2^((i+1) / 2^scale); converting (scale, offset,
    * counts) to an explicit-bounds cumulative histogram lets every
    * function above apply unchanged (reference ExpHistogramVector). */
  def expBucketBound(scale: Int, index: Int): Double =
    math.pow(2.0, (index + 1).toDouble / (1 << scale))

  /** Convert delta bucket counts of an exp histogram to the canonical
    * (le, values cumulative) pair of arrays — pure higher-order-function
    * expressions (codegen'd), no UDFs. */
  def fromExponential(df: DataFrame, scale: Int, offsetCol: String,
                      countsCol: String): DataFrame =
    fromExponentialCols(df, lit(scale), col(offsetCol), countsCol)

  /** Same conversion with per-ROW scale/offset columns — the storage-path
    * form, where each sample row carries its own (scale, offset, counts)
    * triple (reference ExpHistogramVector stores them per chunk). pow()
    * instead of a bit shift also admits OTel's negative scales.
    *
    * `zeroCount`/`zeroThreshold` (optional, for Prometheus NATIVE
    * histograms arriving over remote-write): the zero bucket counts
    * observations in [-zt, zt]. When a row's zero count is positive it is
    * prepended as an explicit (le = zt, count = zc) bucket, and every
    * cumulative value shifts up by zc — exactly the classic-bucket
    * rendering Prometheus itself uses for native→classic conversion. A
    * null/0 zero count leaves the row byte-identical to the plain form. */
  def fromExponentialCols(df: DataFrame, scaleCol: Column, offsetCol: Column,
                          countsCol: String,
                          zeroCount: Option[Column] = None,
                          zeroThreshold: Option[Column] = None): DataFrame = {
    val n = size(col(countsCol))
    val zc = coalesce(zeroCount.getOrElse(lit(0.0)), lit(0.0))
    val zt = coalesce(zeroThreshold.getOrElse(lit(0.0)), lit(0.0))
    // empty counts: sequence(0, -1) would generate a DESCENDING [0, -1] and
    // misalign le vs values — an empty histogram is just le=[+Inf], values=[0]
    val expBounds =
      when(n > 0, transform(sequence(lit(0), n - 1),
        i => pow(lit(2.0), (offsetCol + i + 1).cast("double") / pow(lit(2.0), scaleCol))))
        .otherwise(array().cast("array<double>"))
    val zeroLe =
      when(zc > 0.0, array(zt)).otherwise(array().cast("array<double>"))
    val bounds = concat(zeroLe, expBounds, array(lit(Double.PositiveInfinity)))
    // running sum seeded by the zero bucket; the +Inf bucket repeats the total
    val zeroSeed =
      when(zc > 0.0, array(zc)).otherwise(array().cast("array<double>"))
    val cumulative = aggregate(col(countsCol), zeroSeed,
      (acc, x) => concat(acc, array(coalesce(element_at(acc, -1), lit(0.0)) + x)))
    df.withColumn("le", bounds)
      .withColumn("__cum", cumulative)
      .withColumn("values", concat(col("__cum"), array(coalesce(element_at(col("__cum"), -1), lit(0.0)))))
      .drop("__cum")
  }

  /** Hist-typed SAMPLES (metric, tags, ts, le ARRAY, values ARRAY) →
    * bucket-series samples with an `le` tag — the bridge that makes every
    * bucket-series PromQL path (histogram_quantile over
    * `sum by (le) (...)`) work over native-histogram storage, mirroring
    * the reference's query-time hist→prom-vector conversion. */
  def bucketSeriesSamples(df: DataFrame,
                          passthrough: Seq[String] = Nil): DataFrame =
    df.select(Seq(col("metric"), col("tags"), col("ts")) ++
        passthrough.map(col) :+
        posexplode(arrays_zip(col("le"), col("values"))): _*)
      .select(Seq(col("metric"),
        map_concat(col("tags"), map(lit("le"), col("col.le").cast("string"))).as("tags"),
        col("ts"), col("col.values").as("value")) ++ passthrough.map(col): _*)

  /** Explode one histogram row into per-`le` bucket series rows
    * (hist_to_prom_vectors). */
  def toPromVectors(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.select(keyCols.map(col) :+ posexplode(arrays_zip(col("le"), col("values"))): _*)
      .select(keyCols.map(col) ++ Seq(
        col("col.le").cast("string").as("le"),
        col("col.values").as("bucket_count")): _*)
}
