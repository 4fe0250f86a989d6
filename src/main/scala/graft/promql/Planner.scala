package graft.promql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.SeriesKey
import graft.operators._

/** PromQL planner: PromExpr → DataFrame transformations over the canonical
  * samples table (metric STRING, tags MAP<STRING,STRING>, ts LONG ms,
  * value DOUBLE [, __tie LONG]).
  *
  * This is the Spark analogue of the reference's SingleClusterPlanner
  * `walkLogicalPlanTree` (SURVEY.md §3.1 step 4): each AST node maps to a
  * declarative DataFrame op, Catalyst owns all physical planning (predicate
  * pushdown to the parquet scan, partial aggregation, broadcast-vs-shuffle
  * join choice via AQE). Vector identity is the sorted-entries JSON key
  * `__key`, and the window kernel groups on its entry array; both come
  * from [[graft.model.SeriesKey]], which owns the identity format.
  *
  * Result shape: (labels MAP<STRING,STRING>, __key STRING, step_ts LONG,
  * value DOUBLE).
  */
object PromPlanner {

  /** 5m default staleness lookback for instant selectors, as the reference
    * (PeriodicSamplesMapper.scala:81-83). */
  val DefaultLookbackMs: Long = 300000L

  /** Cold downsample tier (ds-gauge schema: metric, tags, ts, min, max,
    * sum, count, avg): range functions that can be served from it are
    * automatically rewritten and routed (LongTimeRangePlanner semantics). */
  case class ColdTier(ds: DataFrame, boundaryMs: Long)

  /** Pre-aggregated samples table (the reference's `preagg-*` schemas /
    * hierarchical query experience): the same long samples layout but with
    * series already summed across all labels NOT in `retainedLabels`.
    * `suffix` names the table for explicit `metric:::suffix` routing (the
    * reference's agg-rule suffix convention). */
  case class PreaggTable(samples: DataFrame, retainedLabels: Set[String],
                         suffix: Option[String] = None)

  /** Per-request stats hook (reference QueryStats' timeSeriesScanned,
    * `ref:core/.../QueryContext.scala:386`): when present, every raw
    * selector registers its post-pushdown frame here at planning time;
    * the API layer counts distinct series across them AFTER execution —
    * one narrow job per selector over the pruned label column, run only
    * when the caller asked for stats. One hook per request, never
    * shared across requests. */
  final class SelectorStats {
    private val frames = scala.collection.mutable.Buffer[DataFrame]()
    def add(df: DataFrame): Unit = frames.synchronized { frames += df }
    def selectorCount: Int = frames.synchronized { frames.size }
    /** Distinct series touched across all registered selectors. */
    def timeSeriesScanned(): Long = frames.synchronized { frames.toSeq }.map { df =>
      df.select(SeriesKey.key(col("labels"))).distinct().count()
    }.sum
    /** Samples the registered selectors would read — a count on each
      * post-pushdown, time-bounded frame (scan-only jobs, no shuffle).
      * The ENFORCED-limit pre-flight ([[graft.http.QueryStatsCollector
      * .EnforcedLimits]]) runs this BEFORE the query executes, so a
      * pathological `{__name__=~".+"}[30d]` aborts without ever scanning
      * into the full evaluation. */
    def samplesScanned(): Long =
      frames.synchronized { frames.toSeq }.map(_.count()).sum
  }

  case class Ctx(spark: SparkSession, samples: DataFrame,
                 startMs: Long, endMs: Long, stepMs: Long,
                 lookbackMs: Long = DefaultLookbackMs,
                 cold: Option[ColdTier] = None,
                 preagg: Seq[PreaggTable] = Nil,
                 stats: Option[SelectorStats] = None)

  def queryRange(ctx: Ctx, query: String): DataFrame =
    planVector(ctx, resolveStepDurations(Parser.parse(query), ctx.stepMs))

  /** Multi-resolution downsample store: the reference keeps several
    * downsample resolutions (DownsampledTimeSeriesShard); ITS
    * chooseDownsampleResolution picks by downsample retention TTL vs the
    * query start time. THIS engine's policy instead picks the COARSEST
    * tier that still resolves the query's smallest window — a finer tier
    * than needed wastes scan width; a coarser one cannot fill the window.
    * Windowless instant selectors size against the staleness lookback.
    * Falls back to the finest tier when nothing fits. */
  def chooseDownsampleResolution(resolutions: Seq[Long], minWindowMs: Long): Long = {
    require(resolutions.nonEmpty, "no downsample resolutions registered")
    val sorted = resolutions.sorted
    sorted.reverse.find(_ <= minWindowMs).getOrElse(sorted.head)
  }

  /** REFERENCE-PARITY tier choice (core/src/main/scala/filodb.core/
    * downsample/DownsampledTimeSeriesShard.scala:504-516): each tier
    * retains data for its TTL; pick the FINEST resolution whose retention
    * window still covers the earliest instant the query reads
    * (`queryEarliestMs > nowMs - ttl`, the reference's exact predicate
    * over ascending TTLs), falling back to the coarsest when the query
    * starts before every retention. Selectable beside the window-fit
    * policy above — window-fit optimizes scan width when all tiers hold
    * the range; retention parity matches the reference's tiered-TTL
    * store, where older time simply does not EXIST at finer resolutions.
    * `tiers`: (resolutionMs, retentionTtlMs), any order; retention must
    * not shrink as resolution coarsens. */
  def chooseDownsampleResolutionByRetention(tiers: Seq[(Long, Long)],
                                            queryEarliestMs: Long,
                                            nowMs: Long): Long = {
    require(tiers.nonEmpty, "no downsample tiers registered")
    val sorted = tiers.sortBy(_._1)
    sorted.find { case (_, ttlMs) => queryEarliestMs > nowMs - ttlMs }
      .map(_._1).getOrElse(sorted.last._1)
  }

  /** Wire `ctx` with the tier the RETENTION policy picks for `query` —
    * the reference-parity sibling of [[withDownsampleTiers]]. The
    * earliest read instant is the query start minus its maximum selector
    * reach (the chunk-scan start the reference's predicate sees).
    * `tiers`: (resolutionMs, retentionTtlMs, ds-gauge frame). */
  def withDownsampleTiersByRetention(ctx: Ctx, tiers: Seq[(Long, Long, DataFrame)],
                                     boundaryMs: Long, query: String,
                                     nowMs: Long): Ctx = {
    val ast = resolveStepDurations(Parser.parse(query), ctx.stepMs)
    val earliest = ctx.startMs - maxSelectorReachMs(ast, ctx.lookbackMs)
    val res = chooseDownsampleResolutionByRetention(
      tiers.map(t => (t._1, t._2)), earliest, nowMs)
    ctx.copy(cold = Some(ColdTier(tiers.find(_._1 == res).get._3, boundaryMs)))
  }

  /** Wire `ctx` with the downsample tier [[chooseDownsampleResolution]]
    * picks for `query` (tiers = (resolutionMs, ds-gauge frame)). Parses
    * once here; prefer the AST overload when the caller already holds
    * the parsed expression (it will be parsed again by queryRange —
    * use planVector on the same AST to avoid the second parse). */
  def withDownsampleTiers(ctx: Ctx, tiers: Seq[(Long, DataFrame)],
                          boundaryMs: Long, query: String): Ctx =
    withDownsampleTiers(ctx, tiers, boundaryMs,
      resolveStepDurations(Parser.parse(query), ctx.stepMs))

  def withDownsampleTiers(ctx: Ctx, tiers: Seq[(Long, DataFrame)],
                          boundaryMs: Long, ast: PromExpr): Ctx = {
    val minWin = minSelectorWindowMs(ast, ctx.lookbackMs).getOrElse(ctx.lookbackMs)
    val res = chooseDownsampleResolution(tiers.map(_._1), minWin)
    ctx.copy(cold = Some(ColdTier(tiers.find(_._1 == res).get._2, boundaryMs)))
  }

  /** Smallest window any selector in the expression must fill. A
    * WINDOWLESS instant selector still constrains the choice — it reads
    * through the staleness lookback, so it contributes `lookbackMs`
    * (a mixed query like `sum_over_time(m[2h]) + m` must not route to a
    * tier coarser than the bare selector can see). */
  private def minSelectorWindowMs(e: PromExpr, lookbackMs: Long): Option[Long] = {
    def walk(e: PromExpr): Seq[Long] = e match {
      case s: Selector => Seq(s.windowMs.getOrElse(lookbackMs))
      case sq: Subquery => Seq(sq.rangeMs) ++ walk(sq.expr)
      case FuncCall(_, args) => args.flatMap(walk)
      case a: Agg => walk(a.expr) ++ a.param.toSeq.flatMap(walk)
      case b: BinOp => walk(b.lhs) ++ walk(b.rhs)
      case _ => Nil
    }
    val ws = walk(e)
    if (ws.isEmpty) None else Some(ws.min)
  }

  /** Furthest any selector in the expression reads BEHIND its evaluation
    * instant: window (or the staleness lookback for windowless selectors)
    * plus offset, with subqueries compounding range + offset + their
    * inner expression's reach. The HA stitcher uses this to extend
    * replica downtime windows — a step just AFTER a replica's outage
    * still reads samples from INSIDE it, so per-step health must look
    * this far back. Clamped at 0 per selector: a NEGATIVE offset (a
    * Prometheus opt-in that reads FORWARD) must never SHRINK another
    * selector's extension — its forward extent is
    * [[maxSelectorForwardMs]]'s job. `@`-pinned selectors read at an
    * absolute instant and contribute like unpinned ones here (a
    * conservative over-extension). Callers must pass a RESOLVED AST
    * (resolveStepDurations) — unresolved `Ni` windows carry no ms value
    * and would silently contribute only the lookback. */
  def maxSelectorReachMs(e: PromExpr, lookbackMs: Long): Long = e match {
    case s: Selector =>
      math.max(0L, s.windowMs.getOrElse(lookbackMs) + s.offsetMs)
    case sq: Subquery =>
      math.max(0L,
        sq.rangeMs + sq.offsetMs + maxSelectorReachMs(sq.expr, lookbackMs))
    case FuncCall(_, args) =>
      (0L +: args.map(maxSelectorReachMs(_, lookbackMs))).max
    case a: Agg =>
      (maxSelectorReachMs(a.expr, lookbackMs) +:
        a.param.toSeq.map(maxSelectorReachMs(_, lookbackMs))).max
    case b: BinOp =>
      math.max(maxSelectorReachMs(b.lhs, lookbackMs),
        maxSelectorReachMs(b.rhs, lookbackMs))
    case _ => 0L
  }

  /** Furthest any selector reads AHEAD of its evaluation instant —
    * non-zero only with negative offsets. The HA stitcher extends
    * downtime windows BACKWARD by this: a step just BEFORE an outage
    * whose negative-offset selector reads into it must route away. */
  def maxSelectorForwardMs(e: PromExpr): Long = e match {
    case s: Selector => math.max(0L, -s.offsetMs)
    case sq: Subquery =>
      math.max(0L, -sq.offsetMs) + maxSelectorForwardMs(sq.expr)
    case FuncCall(_, args) => (0L +: args.map(maxSelectorForwardMs)).max
    case a: Agg =>
      (maxSelectorForwardMs(a.expr) +: a.param.toSeq.map(maxSelectorForwardMs)).max
    case b: BinOp =>
      math.max(maxSelectorForwardMs(b.lhs), maxSelectorForwardMs(b.rhs))
    case _ => 0L
  }

  /** ABSOLUTE read intervals of @-pinned selectors/subqueries — their
    * reads ignore the evaluation instant entirely, so no per-step reach
    * extension can cover them. Each is [at - offset - window, at - offset]
    * (an @-subquery additionally spans its inner expression's reach on
    * both sides). The HA stitcher marks a replica unhealthy for EVERY
    * step when one of its downtime windows intersects any of these:
    * every step reads the same absolute interval. */
  def atReadIntervalsMs(e: PromExpr, lookbackMs: Long,
                        rangeStartMs: Long, rangeEndMs: Long): Seq[(Long, Long)] = {
    // @start()/@end() carry Long.Min/MaxValue sentinels — resolve against
    // the query range before doing interval arithmetic on them
    def resolve(at: Long): Long =
      if (at == At.Start) rangeStartMs else if (at == At.End) rangeEndMs else at
    def walk(e: PromExpr): Seq[(Long, Long)] = e match {
      case s: Selector =>
        s.atMs.toSeq.map { at =>
          val end = resolve(at) - s.offsetMs
          (end - s.windowMs.getOrElse(lookbackMs), end)
        }
      case sq: Subquery =>
        val inner = walk(sq.expr)
        sq.atMs match {
          case Some(at) =>
            val end = resolve(at) - sq.offsetMs
            ((end - sq.rangeMs - maxSelectorReachMs(sq.expr, lookbackMs),
              end + maxSelectorForwardMs(sq.expr))) +: inner
          case None => inner
        }
      case FuncCall(_, args) => args.flatMap(walk)
      case a: Agg => walk(a.expr) ++ a.param.toSeq.flatMap(walk)
      case b: BinOp => walk(b.lhs) ++ walk(b.rhs)
      case _ => Nil
    }
    walk(e)
  }

  /** Does the expression still carry unresolved interval-multiple (`Ni`)
    * durations? (True only BEFORE resolveStepDurations.) */
  def hasStepDurations(e: PromExpr): Boolean = e match {
    case s: Selector => s.windowSteps.isDefined || s.offsetSteps != 0L
    case sq: Subquery => sq.rangeSteps.isDefined || sq.stepSteps.isDefined ||
      sq.offsetSteps != 0L || hasStepDurations(sq.expr)
    case FuncCall(_, args) => args.exists(hasStepDurations)
    case a: Agg => hasStepDurations(a.expr) || a.param.exists(hasStepDurations)
    case b: BinOp => hasStepDurations(b.lhs) || hasStepDurations(b.rhs)
    case _ => false
  }

  /** Resolve FiloDB's interval-multiple `Ni` durations (N × the query
    * step — reference TimeUnits.scala IntervalMultiple, set per-plan in
    * Functions.scala:205-220 from the evaluation's step) into absolute
    * ms, so the planner proper only ever sees ms. Applied once at the
    * query entry; everything resolves against the top-level step. */
  def resolveStepDurations(e: PromExpr, stepMs: Long): PromExpr = e match {
    case s: Selector =>
      s.copy(windowMs = s.windowMs.orElse(s.windowSteps.map(_ * stepMs)),
        offsetMs = s.offsetMs + s.offsetSteps * stepMs,
        windowSteps = None, offsetSteps = 0L)
    case sq: Subquery =>
      sq.copy(expr = resolveStepDurations(sq.expr, stepMs),
        rangeMs = sq.rangeSteps.map(_ * stepMs).getOrElse(sq.rangeMs),
        stepMs = sq.stepMs.orElse(sq.stepSteps.map(_ * stepMs)),
        offsetMs = sq.offsetMs + sq.offsetSteps * stepMs,
        rangeSteps = None, stepSteps = None, offsetSteps = 0L)
    case FuncCall(n, args) => FuncCall(n, args.map(resolveStepDurations(_, stepMs)))
    case a: Agg => a.copy(expr = resolveStepDurations(a.expr, stepMs),
      param = a.param.map(resolveStepDurations(_, stepMs)))
    case b: BinOp => b.copy(lhs = resolveStepDurations(b.lhs, stepMs),
      rhs = resolveStepDurations(b.rhs, stepMs))
    case other => other
  }

  /** Static expression type: true when `e` evaluates to a SCALAR (one
    * value per step, no labels) — Prometheus answers such instant queries
    * with resultType "scalar" instead of "vector" (and its API layer
    * type-checks on this). Mirrors the reference's ScalarPlan node typing. */
  def isScalarTyped(e: PromExpr): Boolean = e match {
    case NumberLit(_) => true
    case FuncCall("scalar", _) => true
    case FuncCall("time", args) if args.isEmpty => true
    case FuncCall("pi", args) if args.isEmpty => true
    case FuncCall(n, args) if args.isEmpty && InstantFns.TimeScalarFns.contains(n) => true
    case FuncCall("vector", _) => false
    case BinOp(_, lhs, rhs, _, _) => isScalarTyped(lhs) && isScalarTyped(rhs)
    case _ => false
  }

  /** Deterministic series key for a labels map ([[SeriesKey.key]]). Kept
    * as a forwarder because `graftbench/Dashboard.scala` calls it by name;
    * new code calls SeriesKey directly. */
  def seriesKey(labels: Column): Column = SeriesKey.key(labels)

  // ----- helpers -----

  private def withKey(df: DataFrame): DataFrame =
    df.withColumn("__key", SeriesKey.key(col("labels")))

  private def finish(df: DataFrame): DataFrame =
    df.select(col("labels"), col("__key"), col("step_ts"), col("value"))

  /** anchored regex, per Prometheus matcher semantics */
  private def anchor(re: String): String = "^(?:" + re + ")$"

  private def matcherPred(m: LabelMatcher): Column = Matchers.pred(m)

  /** Filter samples for a selector; labels = tags + __name__.
    *
    * Metric-name routing conventions (reference HierarchicalQueryExperience
    * + column selection): `m:::suffix` reads the registered preagg table
    * with that suffix; an optional trailing `::col` picks its value column
    * (e.g. `m:::agg::sum`); default column is `value`, else `sum`. */
  /** Metric-name routing resolved to (base table, rewritten selector) —
    * shared by the plain selector path AND the rate/increase schema-type
    * dispatch (which filters the base table by series_type before the
    * selector applies; routing through only one of the two silently broke
    * `rate(m::sum[w])`). */
  private def routedBase(ctx: Ctx, sel: Selector): (DataFrame, Selector) =
    sel.metric match {
      case Some(m) if m.contains(":::") =>
        val Array(base, rest) = m.split(":::", 2)
        val (suffix, colName) = rest.split("::", 2) match {
          case Array(sfx, c) => (sfx, Some(c))
          case Array(sfx) => (sfx, None)
        }
        val pa = ctx.preagg.find(_.suffix.contains(suffix)).getOrElse(
          throw new IllegalArgumentException(s"no preagg table registered for suffix '$suffix'"))
        val vcol = colName.getOrElse(if (pa.samples.columns.contains("value")) "value" else "sum")
        require(pa.samples.columns.contains(vcol), s"preagg table '$suffix' has no column '$vcol'")
        (pa.samples.withColumn("value", col(vcol)), sel.copy(metric = Some(base)))
      case Some(m) if m.contains("::") =>
        // FiloDB data-column selection on the MAIN table (`m::sum`,
        // `m::count`, `m::min` — prometheus/ast/Vectors.scala column
        // selector): read the named column as the value series. Histogram
        // bridge columns are dropped so the picked column is served as a
        // plain (counter-corrected downstream) series even on hist-typed
        // storage — `rate(hist_metric::sum[w])` is the reference's
        // histogram sum-column rate. Rows without the column are not part
        // of the selected series.
        val Array(base, vcol) = m.split("::", 2)
        require(ctx.samples.columns.contains(vcol),
          s"samples table has no column '$vcol' for selector '$m'")
        val picked = ctx.samples
          .where(col(vcol).isNotNull)
          .withColumn("value", col(vcol).cast("double"))
          .drop("le", "values", "exp_scale", "exp_offset", "exp_counts",
            "exp_zero_count", "exp_zero_threshold", "exp_sum")
        (picked, sel.copy(metric = Some(base)))
      case _ => (ctx.samples, sel)
    }

  private def selectorSamples(ctx: Ctx, sel: Selector): DataFrame = {
    val (df, s2) = routedBase(ctx, sel)
    val out = selectorSamplesFrom(df, s2)
    // register the frame TIME-BOUNDED to what this selector's evaluation
    // can actually read ((start - window/lookback - offset, end - offset])
    // — the stats/enforcement counts then reflect the query's scan, not
    // the table's full history; the ts predicate pushes to the scan
    ctx.stats.foreach { h =>
      val (es, ee) = sel.atMs.map(resolveAt(ctx, _)) match {
        case Some(at) => (at, at)
        case None => (ctx.startMs, ctx.endMs)
      }
      val look = sel.windowMs.getOrElse(ctx.lookbackMs)
      h.add(out.filter(col("ts") > es - look - sel.offsetMs &&
        col("ts") <= ee - sel.offsetMs))
    }
    out
  }

  /** OTel exponential-histogram storage rows (series_type =
    * "otel_exp_histogram"; exp_scale, exp_offset, exp_counts columns) are
    * bridged query-time into bucket-series samples with an `le` tag
    * (Histograms.fromExponentialCols → bucketSeriesSamples), so every
    * bucket-series PromQL path — histogram_quantile, histogram_fraction,
    * sum by (le) — applies unchanged. Mirrors the reference querying
    * otel-exp-delta-histogram schemas transparently (ExpHistogramVector,
    * Schemas.scala:377-474). Plain rows pass through untouched; tables
    * without the columns skip the branch entirely (driver-side check).
    *
    * Both branch predicates are kept PARQUET-PUSHABLE (IsNull-or-Ne and
    * EqualTo — a coalesce() would push nothing), so each branch is a
    * pruned scan; partition exp-capable tables by `series_type` and the
    * two scans touch disjoint files (PlanQualitySpec pins the pushdown). */
  private def bridgeExpHist(df: DataFrame): DataFrame = {
    if (!df.columns.contains("exp_counts")) df
    else {
      val (isPlain, isExp) =
        if (df.columns.contains("series_type"))
          (col("series_type").isNull || col("series_type") =!= "otel_exp_histogram",
           col("series_type") === "otel_exp_histogram")
        else (col("exp_counts").isNull, col("exp_counts").isNotNull)
      val keep = df.columns.filterNot(Set("exp_scale", "exp_offset", "exp_counts",
        "exp_zero_count", "exp_zero_threshold", "exp_sum").contains)
      val plain = df.filter(isPlain).select(keep.map(col): _*)
      // remote-written native histograms carry a zero bucket alongside the
      // exp buckets; storage without the columns converts exactly as before
      val (zc, zt) =
        if (df.columns.contains("exp_zero_count"))
          (Some(col("exp_zero_count")), Some(col("exp_zero_threshold")))
        else (None, None)
      val conv = graft.functions.Histograms.fromExponentialCols(
        df.filter(isExp),
        col("exp_scale"), col("exp_offset"), "exp_counts", zc, zt)
      val buckets = graft.functions.Histograms.bucketSeriesSamples(conv)
      // restore passthrough columns the bucket-series shape lacks (e.g.
      // __tie, series_type — bridged rows are plain gauges downstream)
      val padded = keep.foldLeft(buckets) { (b, c) =>
        if (b.columns.contains(c)) b
        else b.withColumn(c, lit(null).cast(df.schema(c).dataType))
      }
      plain.unionByName(padded.select(keep.map(col): _*))
    }
  }

  /** Prometheus-histogram STORAGE rows (series_type = "prom_histogram";
    * le ARRAY<DOUBLE>, values ARRAY<DOUBLE> cumulative bucket counts per
    * sample) are bridged query-time into bucket-series samples with an
    * `le` tag, exactly like [[bridgeExpHist]] — so `rate(hist_metric[w])`,
    * `sum by (le)`, `histogram_quantile` all evaluate over native-hist
    * storage straight from a PromQL string (the reference's hist-column
    * rate, RateFunctions.scala:330-415, serves the same query shape over
    * prom-histogram schemas). Each bucket becomes its own counter series,
    * so the counter-correcting rate kernel applies per bucket unchanged. */
  private def bridgeHistCols(df: DataFrame): DataFrame = {
    if (!df.columns.contains("le") || !df.columns.contains("values")) df
    else {
      // pushable branch predicates, as in bridgeExpHist.
      // prom_histogram_delta (the OTLP delta opt-in) is the same bucket
      // storage with per-interval-over-time values: bridged identically,
      // but its bucket series keep series_type = "delta" so the
      // rate/increase dispatch routes them to the delta kernel.
      val hasType = df.columns.contains("series_type")
      val (isPlain, isHist) =
        if (hasType)
          (col("series_type").isNull ||
             (col("series_type") =!= "prom_histogram" &&
              col("series_type") =!= "prom_histogram_delta"),
           col("series_type") === "prom_histogram" ||
             col("series_type") === "prom_histogram_delta")
        else (col("le").isNull || col("values").isNull,
              col("le").isNotNull && col("values").isNotNull)
      val keep = df.columns.filterNot(Set("le", "values").contains)
      val plain = df.filter(isPlain).select(keep.map(col): _*)
      val histSrc = df.filter(isHist)
      val buckets =
        if (hasType)
          graft.functions.Histograms.bucketSeriesSamples(
            histSrc.withColumn("series_type",
              when(col("series_type") === "prom_histogram_delta", lit("delta"))
                .otherwise(lit(null).cast("string"))),
            passthrough = Seq("series_type"))
        else graft.functions.Histograms.bucketSeriesSamples(histSrc)
      val padded = keep.foldLeft(buckets) { (b, c) =>
        if (b.columns.contains(c)) b
        else b.withColumn(c, lit(null).cast(df.schema(c).dataType))
      }
      plain.unionByName(padded.select(keep.map(col): _*))
    }
  }

  private def selectorSamplesFrom(df0: DataFrame, sel: Selector): DataFrame = {
    var df = bridgeHistCols(bridgeExpHist(df0))
    sel.metric.foreach(m => df = df.filter(col("metric") === m))
    sel.matchers.foreach(m => df = df.filter(matcherPred(m)))
    val labels = map_concat(
      when(col("metric").isNotNull, map(lit("__name__"), col("metric")))
        .otherwise(map().cast("map<string,string>")),
      col("tags"))
    val tie = if (df.columns.contains("__tie")) col("__tie") else lit(0L)
    val cols = Seq(labels.as("labels"),
      // the kernel's grouping form, kept alongside the map: a lazy
      // projection (pruned whenever unused) that periodicFrom groups on
      // instead of re-deriving entries through the map_concat map
      SeriesKey.entries(col("metric"), col("tags")).as("__ent"),
      col("ts"), col("value"), tie.as("__tie")) ++
      // staleness-marker tombstones ride along for the instant-lookback
      // cutoff (periodicFrom's cutStale); absent everywhere else
      (if (df.columns.contains("__stale")) Seq(col("__stale")) else Nil)
    df.select(cols: _*)
  }

  /** Periodic evaluation of a range function over a matrix selector.
    * Only (key, ts, value, tie) is shuffled into the kernel; the label map
    * — one row per SERIES, not per sample — is re-attached afterwards with
    * a join that AQE turns into a broadcast when the series set is small.
    * At 100 TB this keeps the big shuffle narrow and the label payload off
    * the wire. */
  private def periodic(ctx: Ctx, sel: Selector, fn: RangeFn, windowMs: Long,
                       cutStale: Boolean = false): DataFrame =
    periodicFrom(ctx, selectorSamples(ctx, sel), sel, fn, windowMs, cutStale)

  /** `cutStale` is set for INSTANT-vector evaluation, which honors
    * upstream staleness MARKERS (prometheus tsdb tombstone rows, `__stale`
    * = true in storage): a marker is excluded from every range vector (its
    * value is NaN, which the kernel drops) but CUTS the instant lookback —
    * a marker at or after the newest live sample makes the series absent
    * at that step. The kernel decides it in its one pass (its `staleCol`);
    * a frame without the column (no remote-write/OTLP window carried a
    * marker, no corpus `stale` token) keeps the plain kernel — a
    * driver-side column check. */
  private def periodicFrom(ctx: Ctx, src0: DataFrame, sel: Selector,
                           fn: RangeFn, windowMs: Long,
                           cutStale: Boolean = false): DataFrame = {
    // Group the kernel on the sorted-entries ARRAY (__ent when the
    // selector provided it, else derived from the labels map): identical
    // partitioning to the JSON string key, but the per-SAMPLE row pays
    // only the entry-array build — to_json and the map rebuild run once
    // per SERIES on the kernel output (the whole rate kernel measured
    // 2.1x faster end-to-end, OPTIMIZATION_r17.md §8).
    val keyE = if (src0.columns.contains("__ent")) col("__ent")
               else SeriesKey.entriesOf(col("labels"))
    val staleCol = Some("__stale").filter(c => cutStale && src0.columns.contains(c))
    val slim = src0.select(Seq(keyE.as("__ke"), col("ts"), col("value"), col("__tie")) ++
      staleCol.map(col): _*)
    // @ modifier pins the evaluation time: compute the single pinned step,
    // then replicate its value across the requested step grid.
    // @ start()/end() sentinels resolve against the query range here.
    val atResolved = sel.atMs.map(resolveAt(ctx, _))
    val (evalStart, evalEnd) = atResolved match {
      case Some(at) => (at, at)
      case None => (ctx.startMs, ctx.endMs)
    }
    val out = PeriodicSamples(slim, Seq("__ke"), "ts", "value",
      evalStart, evalEnd, ctx.stepMs, windowMs, fn,
      offsetMs = sel.offsetMs, tieCol = Some("__tie"), staleCol = staleCol)
    // The key IS the sorted label set serialized as JSON — produce it (and
    // the label map) from the grouped entries on the (small) output.
    val gridded = atResolved match {
      case Some(_) => out.drop("step_ts").crossJoin(scalarGrid(ctx))
      case None => out
    }
    finish(gridded
      .withColumn("__key", SeriesKey.keyOf(col("__ke")))
      .withColumn("labels", map_from_entries(col("__ke")))
      .drop("__ke"))
  }

  /** Resolve an @ timestamp (or the start()/end() sentinels). */
  private def resolveAt(ctx: Ctx, at: Long): Long = at match {
    case At.Start => ctx.startMs
    case At.End => ctx.endMs
    case ms => ms
  }

  private def dropName(df: DataFrame): DataFrame =
    withKey(df.withColumn("labels",
      map_filter(col("labels"), (k, _) => k =!= "__name__")))

  // ----- vector planning -----

  def planVector(ctx: Ctx, e: PromExpr): DataFrame = e match {

    // entry guard: an AST still carrying unresolved `Ni` interval-multiple
    // durations would otherwise plan silently wrong (a Selector with
    // windowSteps but windowMs=None plans as a windowless instant selector;
    // a Subquery with rangeSteps plans rangeMs=0). Callers holding a
    // pre-parsed AST (the documented withDownsampleTiers AST path) skip
    // queryRange's resolve — so resolve here against the query step.
    case _ if hasStepDurations(e) =>
      planVector(ctx, resolveStepDurations(e, ctx.stepMs))

    case sel: Selector =>
      // instant selector: implicit last_over_time over the staleness window
      periodic(ctx, sel, RangeFns.LastOverTime,
        sel.windowMs.getOrElse(ctx.lookbackMs), cutStale = true)

    case FuncCall(name, args) => planFunc(ctx, name, args)

    case Agg(op, expr, param, by, without) =>
      // Pre-aggregation rewrite (reference AggLpOptimization /
      // HierarchicalQueryExperience): shapes like
      // `sum by (L) (sum_over_time(sel[w]))` read a pre-aggregated table
      // instead of raw when it retains every label the query groups or
      // filters on — the scan shrinks by the dropped-label cardinality.
      // Covered shapes: sum∘sum_over_time, min∘min_over_time,
      // max∘max_over_time, sum∘count_over_time (reads the count column);
      // avg decomposes as sum(sum_over_time)/sum(count_over_time), and
      // both halves rewrite through these rules.
      val (rewrittenCtx, rewrittenExpr) = preaggRewrite(ctx, op, expr, by, without)
      // by: keep exactly the listed labels (__name__ kept only if listed);
      // without: drop listed + __name__; no clause: empty label set.
      // NaN inputs are "no sample" to every reference aggregator
      // (`ref:query/exec/aggregator/SumRowAggregator.scala:24`,
      // MinRowAggregator minIgnoreNaN, CountRowAggregator isNull,
      // TopBottomKRowAggregator:88, …) — Spark's sum/avg/min/max would
      // instead poison the group (sum) or mis-order it (NaN sorts
      // largest). A step where every input is NaN emits no row, our
      // engine-wide equivalent of the reference's NaN-valued row.
      val in = planVector(rewrittenCtx, rewrittenExpr).filter(!isnan(col("value")))
      val grouped = if (by.nonEmpty)
        in.withColumn("labels", map_filter(col("labels"), (k, _) => k.isin(by: _*)))
      else if (without.nonEmpty)
        in.withColumn("labels",
          map_filter(col("labels"), (k, _) => !k.isin(without :+ "__name__": _*)))
      else in.withColumn("labels", map().cast("map<string,string>"))
      val keyed = withKey(grouped)
      op match {
        case "topk" | "bottomk" =>
          val k = constParam(param)
          val ord = if (op == "topk") col("value").desc else col("value").asc
          val w = Window.partitionBy(col("__gk"), col("step_ts")).orderBy(ord, col("__key").asc)
          // rank WITHIN the group labels, but keep original series labels —
          // reuse `in` (the preagg-rewritten plan) rather than replanning
          // the child, which silently skipped the rewrite pre-r5
          val ranked = withKey(in)
            .withColumn("__gk", groupKeyExpr(by, without))
            .withColumn("__rk", row_number().over(w))
            .filter(col("__rk") <= k.toInt)
          finish(ranked)
        case "limitk" =>
          // upstream (promql 3, experimental) keeps an ARBITRARY k series
          // per group per step; this engine pins the choice to the series
          // label-hash order so results are deterministic and replayable
          // (upstream's own tests only assert subset-ness and count).
          // k <= 0 is an empty vector per upstream.
          val k = constParam(param).toInt
          if (k <= 0) finish(withKey(in).filter(lit(false)))
          else {
            val w = Window.partitionBy(col("__gk"), col("step_ts"))
              .orderBy(xxhash64(col("__key")).asc, col("__key").asc)
            val ranked = withKey(in)
              .withColumn("__gk", groupKeyExpr(by, without))
              .withColumn("__rk", row_number().over(w))
              .filter(col("__rk") <= k)
            finish(ranked)
          }
        case "limit_ratio" =>
          // deterministic hash split (upstream promql 3): sampleRatio(s) =
          // hash(labels)/2^64 in [0,1); r >= 0 keeps sampleRatio < r,
          // r < 0 keeps sampleRatio >= 1+r — so limit_ratio(r, v) and
          // limit_ratio(r-1, v) partition v exactly (the upstream test
          // contract). r clamps to [-1, 1] like upstream (with a warning
          // there; silently here). Hash = the engine's series key hash.
          val r0 = constParam(param)
          val r = math.max(-1.0, math.min(1.0, r0))
          val sr = xxhash64(col("__key")).cast("double") /
            lit(math.pow(2.0, 64)) + lit(0.5)
          val cond = if (r >= 0) sr < lit(r) else sr >= lit(1.0 + r)
          finish(withKey(in).filter(cond))
        case "count_values" =>
          val label = param match {
            case Some(StringLit(s)) => s
            case other => throw new IllegalArgumentException(s"count_values needs string, got $other")
          }
          val withLbl = keyed.withColumn("labels",
            map_concat(col("labels"), map(lit(label), canonicalValueStr(col("value")))))
          // group on the key alone and rebuild the map on the (small)
          // aggregated output: the label map is a pure function of __key,
          // so shuffling both just doubled the exchange bytes (r17,
          // guide §2.3) — same for the quantile and simple-agg paths
          finish(withKey(withLbl)
            .groupBy(col("__key"), col("step_ts"))
            .agg(count(lit(1)).cast("double").as("value"))
            .withColumn("labels", SeriesKey.labels(col("__key"))))
        case "quantile" =>
          val phi = constParam(param)
          // φ outside [0,1] answers ±Inf per group (upstream promql; Spark's
          // percentile would error), NaN φ propagates — r10 upstream-corpus
          // parity, same contract as histogram_quantile
          if (phi.isNaN || phi < 0 || phi > 1) {
            val v = if (phi.isNaN) Double.NaN
                    else if (phi < 0) Double.NegativeInfinity
                    else Double.PositiveInfinity
            finish(keyed.groupBy(col("__key"), col("step_ts"))
              .agg(min(lit(v)).as("value"))
              .withColumn("labels", SeriesKey.labels(col("__key"))))
          } else
            finish(keyed.groupBy(col("__key"), col("step_ts"))
              .agg(percentile(col("value"), lit(phi)).as("value"))
              .withColumn("labels", SeriesKey.labels(col("__key"))))
        case simple =>
          val aggCol = simple match {
            case "sum" => sum(col("value"))
            case "min" => min(col("value"))
            case "max" => max(col("value"))
            case "avg" => avg(col("value"))
            case "count" => count(col("value")).cast("double")
            case "group" => first(lit(1.0))
            case "stddev" => coalesce(stddev_pop(col("value")), lit(0.0))
            case "stdvar" => coalesce(var_pop(col("value")), lit(0.0))
            case other => throw new IllegalArgumentException(s"unknown aggregation $other")
          }
          finish(keyed.groupBy(col("__key"), col("step_ts"))
            .agg(aggCol.as("value"))
            .withColumn("labels", SeriesKey.labels(col("__key"))))
      }

    case BinOp(op, lhs, rhs, bool, matching) => planBinOp(ctx, op, lhs, rhs, bool, matching)

    case NumberLit(v) =>
      scalarGrid(ctx).withColumn("value", lit(v))
        .withColumn("labels", map().cast("map<string,string>"))
        .transform(withKey).transform(finish)

    case Subquery(inner, range, step, off, atMs, _, _, _) =>
      // Top-level subquery (reference TopLevelSubquery,
      // LogicalPlan.scala:476-543): evaluate the inner expr on the
      // subquery's own step-aligned grid covering [end-range, end] and
      // return that matrix directly; @ pins the grid's end.
      val base = atMs.map(a =>
        ctx.copy(startMs = resolveAt(ctx, a), endMs = resolveAt(ctx, a))).getOrElse(ctx)
      planVector(subqueryCtx(base, range, step, off), inner)

    case other => throw new IllegalArgumentException(s"cannot plan $other")
  }

  private def dropNameIf(df: DataFrame, cond: Boolean): DataFrame = if (cond) dropName(df) else df

  /** (agg op, range fn) → (preagg ds-gauge column, effective range fn). */
  private val PreaggShapes: Map[(String, String), (String, String)] = Map(
    ("sum", "sum_over_time") -> ("sum", "sum_over_time"),
    ("min", "min_over_time") -> ("min", "min_over_time"),
    ("max", "max_over_time") -> ("max", "max_over_time"),
    // total raw-sample count = sum over the preagg buckets' count column
    ("sum", "count_over_time") -> ("count", "sum_over_time"))

  /** Route a rewritable agg∘range-fn shape to a pre-aggregated table. The
    * preagg samples either carry ds-gauge columns (min/max/sum/count) or a
    * legacy pre-summed `value` (sum shape only). */
  private def preaggRewrite(ctx: Ctx, op: String, expr: PromExpr,
                            by: Seq[String], without: Seq[String]): (Ctx, PromExpr) =
    expr match {
      case FuncCall(fn, Seq(sel: Selector)) if by.nonEmpty && without.isEmpty &&
          ctx.preagg.nonEmpty && PreaggShapes.contains((op, fn)) =>
        val needed = by.toSet ++ sel.matchers.map(_.label).toSet - "__name__"
        val (dsCol, effFn) = PreaggShapes((op, fn))
        ctx.preagg.find(pa => needed.subsetOf(pa.retainedLabels)).flatMap { pa =>
          val cols = pa.samples.columns
          if (cols.contains(dsCol))
            Some((ctx.copy(samples = pa.samples.withColumn("value", col(dsCol))),
              FuncCall(effFn, Seq(sel)): PromExpr))
          else if (dsCol == "sum" && cols.contains("value"))
            Some((ctx.copy(samples = pa.samples), expr)) // legacy pre-summed
          else None
        }.getOrElse((ctx, expr))
      case _ => (ctx, expr)
    }

  private def groupKeyExpr(by: Seq[String], without: Seq[String]): Column = {
    val filtered =
      if (by.nonEmpty) map_filter(col("labels"), (k, _) => k.isin(by: _*))
      else if (without.nonEmpty)
        map_filter(col("labels"), (k, _) => !k.isin(without :+ "__name__": _*))
      else map().cast("map<string,string>")
    SeriesKey.key(filtered)
  }

  /** Prometheus stamps count_values labels with Go's shortest-'f' float
    * string (strconv.FormatFloat(v, 'f', -1, 64)): "4" not "4.000000",
    * plain decimal at every magnitude (never exponent form), "-0" for
    * negative zero, "NaN"/"+Inf"/"-Inf" for specials (ref
    * CountValuesRowAggregator stamps the raw value string). */
  private def canonicalValueStr(v: Column): Column =
    when(isnan(v), lit("NaN"))
      .when(v === Double.PositiveInfinity, lit("+Inf"))
      .when(v === Double.NegativeInfinity, lit("-Inf"))
      .when((v === 0.0) && v.cast("string").startsWith("-"), lit("-0"))
      .when(v === floor(v) && abs(v) < 1e15, v.cast("long").cast("string"))
      // big integral doubles: %.0f prints the exact decimal expansion,
      // same digits Go's 'f' produces (no exponent form)
      .when(v === floor(v), format_string("%.0f", v))
      .otherwise(plainDecimal(v.cast("string")))

  /** Java's shortest double repr may use exponent form ("1.23E-7"); expand
    * it to plain decimal by shifting the point — string surgery over the
    * (sign, digits, exponent) triple, all codegen'd builtins. Non-exponent
    * input passes through unchanged. */
  private def plainDecimal(s: Column): Column = {
    val mant = substring_index(s, "E", 1)
    val e = substring_index(s, "E", -1).cast("int")
    val sign = when(mant.startsWith("-"), lit("-")).otherwise(lit(""))
    // Java's mantissa is d.ddd (one digit before the point, no trailing
    // zeros except the lone ".0" — stripped so 1.0E-4 renders "0.0001")
    val digits = regexp_replace(translate(mant, "-.", ""), "0+$", "")
    val len = length(digits)
    // doubles span ~1e-324..1e308, so 330 zeros cover any shift
    def zeros(n: Column): Column = lit("0" * 330).substr(lit(1), n)
    val expanded =
      when(e >= len - 1, concat(digits, zeros(e - len + 1)))
        .when(e >= 0, concat(digits.substr(lit(1), e + 1), lit("."),
          digits.substr(e + 2, len)))
        .otherwise(concat(lit("0."), zeros(-e - 1), digits))
    when(s.contains("E"), concat(sign, expanded)).otherwise(s)
  }

  private def constParam(p: Option[PromExpr]): Double = p match {
    case Some(NumberLit(v)) => v
    case other => throw new IllegalArgumentException(s"expected numeric parameter, got $other")
  }

  private def scalarGrid(ctx: Ctx): DataFrame =
    ctx.spark.range(ctx.startMs, ctx.endMs + 1, ctx.stepMs)
      .select(col("id").as("step_ts"))

  // ----- functions -----

  private val rangeFnNames = Set("rate", "increase", "delta", "idelta", "irate", "resets",
    "changes", "deriv", "sum_over_time", "avg_over_time", "count_over_time", "min_over_time",
    "max_over_time", "stddev_over_time", "stdvar_over_time", "last_over_time", "last",
    "timestamp", "present_over_time", "absent_over_time", "mad_over_time", "z_score",
    "ts_of_last_over_time", "ts_of_max_over_time", "ts_of_min_over_time")

  private def planFunc(ctx: Ctx, name: String, args: Seq[PromExpr]): DataFrame = name match {

    // FiloDB debugging function (ref FiloFunctionId.ChunkMetaAll,
    // prometheus/.../Functions.scala:139-140 -> RawChunkMeta): raw chunk
    // metadata for a selector, one row per (metric, chunk) with sample
    // count and time bounds. Our chunks are the parquet files of the
    // TsLayout partitioning. NOTE: the output is a metadata frame
    // (metric, chunk, num_rows, start_ts, end_ts), not a range vector —
    // same shape departure the reference makes for this function.
    case "_filodb_chunkmeta_all" =>
      args match {
        case Seq(sel: Selector) =>
          graft.operators.MetadataOps.chunkMeta(
            selectorSamples(ctx, sel)
              .withColumn("metric", col("labels")("__name__")))
        case other => throw new IllegalArgumentException(
          s"_filodb_chunkmeta_all expects a selector, got $other")
      }

    case n if rangeFnNames.contains(n) =>
      args.head match {
        // timestamp/last take an INSTANT vector (reference
        // InstantVectorParam): windowless selector evaluates over the
        // staleness lookback like any instant selector
        case sel: Selector if sel.windowMs.isEmpty && (n == "timestamp" || n == "last") =>
          // timestamp() computes a NEW sample value, so the metric name is
          // dropped like any instant function (upstream: timestamp(m) has
          // no __name__; r10 upstream-corpus finding). `last` is the
          // FiloDB passthrough and keeps it.
          dropNameIf(
            periodic(ctx, sel, RangeFns.byName(n), ctx.lookbackMs, cutStale = true),
            n == "timestamp")
        case sel: Selector if sel.windowMs.isDefined =>
          lazy val routedRI = routedBase(ctx, sel) // shared by guard + branch
          if (n == "absent_over_time") absent(ctx, sel, sel.windowMs.get)
          else if ((n == "rate" || n == "increase") &&
                   routedRI._1.columns.contains("series_type")) {
            // Schema-type dispatch (reference MultiSchemaPartitionsExec +
            // the RangeFunction delta/cumulative toggler,
            // RangeFunction.scala:352-360): cumulative-counter series use
            // the extrapolating kernel, delta-counter series the sum-based
            // one. series_type is a storage column, so each branch is a
            // pruned scan, the Spark analogue of per-partition schemas.
            val deltaFn =
              if (n == "rate") RangeFns.RateOverDelta else RangeFns.IncreaseOverDelta
            val w = sel.windowMs.get
            val (baseDf, sel2) = routedRI
            // null series_type = plain cumulative counter (legacy rows
            // predate the column). IsNull-or-Ne stays parquet-pushable,
            // unlike a coalesce, and keeps null rows out of neither branch.
            // OTel exp-histograms are DELTA temporality by schema
            // (reference otel-exp-delta-histogram, Schemas.scala:377-474):
            // their bridged per-le bucket series are per-interval counts,
            // so they route to the delta kernel, not the extrapolating one.
            val isDelta =
              col("series_type") === "delta" ||
                col("series_type") === "otel_exp_histogram" ||
                col("series_type") === "prom_histogram_delta"
            val cum = periodicFrom(ctx,
              selectorSamplesFrom(baseDf.filter(
                col("series_type").isNull || !isDelta), sel2),
              sel2, RangeFns.byName(n), w)
            val del = periodicFrom(ctx,
              selectorSamplesFrom(baseDf.filter(isDelta), sel2),
              sel2, deltaFn, w)
            dropName(cum.unionByName(del))
          }
          else if (n == "avg_over_time" && ctx.cold.isDefined) {
            // avg over mixed tiers (reference downsample avg rewrite):
            // ds-gauge has no mergeable avg, but sum and count both route,
            // so avg = routed sum_over_time / routed count_over_time.
            val s = planFunc(ctx, "sum_over_time", args)
            val c = planFunc(ctx, "count_over_time", args)
            finish(s
              .join(c.select(col("__key"), col("step_ts"), col("value").as("__cnt")),
                Seq("__key", "step_ts"))
              .withColumn("value", col("value") / col("__cnt")).drop("__cnt"))
          }
          else {
            // Automatic raw/downsample routing: when a cold tier exists and
            // the function is servable from ds-gauge columns, read the cold
            // range from the rewritten column and only the hot tail raw.
            // Routed metric names (m:::suffix, m::col) are excluded: the ds
            // tier downsamples the plain VALUE series only, and the routed
            // table carries its column for its full range — without this
            // guard the cold branch's metric filter would match nothing and
            // silently drop the whole cold range. "Is routed" is asked of
            // routedBase itself (did it rewrite the metric?), not re-derived
            // from the naming convention here.
            val routed = ctx.cold
              .filter(_ => graft.streaming.DownsampleRouting.Rewritable.contains(n) &&
                           routedRI._2.metric == sel.metric)
              .map { tier =>
                val dsCol = n match {
                  case "min_over_time" => "min"
                  case "max_over_time" => "max"
                  case "sum_over_time" => "sum"
                  case "count_over_time" => "count"
                }
                val hot0 = selectorSamples(ctx, sel).filter(col("ts") > tier.boundaryMs)
                val hot = if (n == "count_over_time")
                  hot0.withColumn("value", lit(1.0)) else hot0
                val cold = selectorSamplesFrom(
                  tier.ds.withColumn("value", col(dsCol)), sel)
                  .filter(col("ts") <= tier.boundaryMs)
                val eff = if (n == "count_over_time") "sum_over_time" else n
                (hot.unionByName(cold), eff)
              }
            val (src, effFn) = routed.getOrElse((selectorSamples(ctx, sel), n))
            dropNameIf(
              periodicFrom(ctx, src, sel, RangeFns.byName(effFn), sel.windowMs.get),
              n != "last_over_time" && n != "last")
          }
        case _: Subquery if n == "absent_over_time" =>
          // absent_over_time over a subquery matrix: 1.0 wherever
          // present_over_time over the same subquery yields nothing;
          // no labels (not selector-rooted).
          val present = planFunc(ctx, "present_over_time", args)
          absentOfSteps(ctx, present, map().cast("map<string,string>"))
        case sq: Subquery =>
          // subquery-fed *_over_time drops __name__ exactly like the
          // selector-fed form (r10 upstream-corpus finding: the engine was
          // keeping it only on this path)
          finish(dropNameIf(subqueryPeriodic(ctx, sq, RangeFns.byName(n)),
            n != "last_over_time" && n != "last"))
        case vec if n == "timestamp" =>
          // timestamp() of a COMPUTED instant vector (vector(1), expr
          // results): every computed sample's timestamp IS its evaluation
          // step, so the value is the step itself in seconds (upstream:
          // timestamp(vector(1)) at t answers t; r10 upstream-corpus
          // finding — this arm used to reject non-selectors)
          dropName(planVector(ctx, vec).withColumn("value", col("step_ts") / 1000.0))
        case other => throw new IllegalArgumentException(s"$n needs a range selector, got $other")
      }

    case "quantile_over_time" =>
      val phi = constParam(Some(args(0)))
      matrixArg(ctx, args(1), RangeFns.QuantileOverTime(phi))

    case "predict_linear" =>
      val t = constParam(Some(args(1)))
      matrixArg(ctx, args(0), RangeFns.PredictLinear(t))

    // double_exponential_smoothing is Prometheus 3's name for the same fn
    case "holt_winters" | "double_exponential_smoothing" =>
      matrixArg(ctx, args(0),
        RangeFns.HoltWinters(constParam(Some(args(1))), constParam(Some(args(2)))))

    case "last_over_time_is_mad_outlier" =>
      // reference order: (tolerance, bounds, range-vector) — scalars FIRST
      // (LogicalPlanParserSpec.scala:72; AggrOverTimeFunctions.scala:489)
      val tol = constParam(Some(args(0)))
      val bounds = constParam(Some(args(1))).toInt
      matrixArg(ctx, args(2), RangeFns.LastIsMadOutlier(tol, bounds))

    case "limit" =>
      // FiloDB ApplyLimitFunction: keep at most k series (deterministic:
      // lowest __key first)
      val k = constParam(Some(args(0))).toInt
      val v = planVector(ctx, args(1))
      // distributed top-k (TakeOrderedAndProject): per-partition heads are
      // merged on the driver — no single-task global Window even with
      // millions of series. k keys are tiny, so the semi-join broadcasts.
      val keys = v.select(col("__key")).distinct().orderBy(col("__key").asc).limit(k)
      v.join(broadcast(keys), Seq("__key"), "left_semi")

    case "or_vector" =>
      // FiloDB extension (InstantFunction.scala:151-161): replace NaN
      // sample values with a scalar default
      val default = constParam(Some(args(1)))
      val v = planVector(ctx, args.head)
      v.withColumn("value", when(isnan(col("value")), lit(default)).otherwise(col("value")))

    case "histogram_count" | "histogram_sum" | "histogram_avg" |
         "histogram_stddev" | "histogram_stdvar" =>
      // Native-histogram scalar extractors (upstream promql over native
      // histograms; the engine's native-histogram storage is the OTel
      // exp-delta schema, so each instant value is the PER-INTERVAL
      // count/sum/mean — delta temporality's analogue of upstream's
      // cumulative reading; compose with sum_over_time/subqueries for
      // windows). Planned from the UN-bridged storage rows: count =
      // zero bucket + bucket mass, sum = the wire's sum field (stored
      // since r10 — it is not derivable from buckets), avg = sum/count.
      //
      // Also accepts rate/increase/delta over a range selector (upstream
      // native_histograms.test: histogram_count(rate(h[w]))): count and
      // sum are LINEAR in the histogram, so extract-then-rate equals
      // upstream's rate-then-extract; the counter-reset correction runs
      // on the extracted component (upstream detects resets on the whole
      // histogram — divergent only when components reset
      // non-proportionally). avg = rated sum / rated count.
      def derivedScalar(sel: Selector, stat: String): (DataFrame, Selector) = {
          val (baseDf, sel2) = routedBase(ctx, sel)
          val hasExp = baseDf.columns.contains("exp_counts")
          // NHCB (custom-bucket native histograms) land as sum-carrying
          // classic bucket storage: count = the +Inf cumulative entry,
          // sum = the wire's hist_sum column; stddev/stdvar estimate per
          // upstream's custom-bucket rule (funcHistogramStdDev: each
          // bucket contributes at the ARITHMETIC mean of its bounds;
          // the infinite edge buckets contribute at their finite bound)
          val hasBucket = baseDf.columns.contains("le") &&
            baseDf.columns.contains("values")
          require(hasExp || hasBucket,
            s"$stat needs native-histogram storage " +
              "(no exp_counts or le/values columns)")
          val cnt = coalesce(col("exp_zero_count"), lit(0.0)) +
            aggregate(col("exp_counts"), lit(0.0),
              (a: Column, x: Column) => a + x)
          // stddev/stdvar per the upstream native-histogram estimator
          // (promql funcHistogramStdDev): each bucket contributes at the
          // GEOMETRIC mean of its bounds — for exp bucket j (base^(o+j),
          // base^(o+j+1)], that is base^(o+j+0.5) with log2(base) =
          // 2^-scale — and the zero bucket at 0; variance =
          // Σ c·(val-mean)² / count with mean = sum/count
          lazy val variance = {
            val mean = col("exp_sum") / cnt
            val l2base = pow(lit(2.0), -col("exp_scale"))
            val mids = transform(sequence(lit(0), size(col("exp_counts")) - 1),
              j => pow(lit(2.0),
                (col("exp_offset").cast("double") + j + lit(0.5)) * l2base))
            val bucketSq = aggregate(
              zip_with(col("exp_counts"), mids,
                (c: Column, m: Column) => c * (m - mean) * (m - mean)),
              lit(0.0), (a: Column, x: Column) => a + x)
            (coalesce(col("exp_zero_count"), lit(0.0)) * mean * mean + bucketSq) / cnt
          }
          val v = stat match {
            case "histogram_count" => cnt
            case "histogram_sum" => col("exp_sum")
            case "histogram_avg" => col("exp_sum") / cnt
            case "histogram_stdvar" => variance
            case _ => sqrt(variance)
          }
          val parts = Seq.newBuilder[DataFrame]
          if (hasExp) {
            if (stat != "histogram_count" && !baseDf.columns.contains("exp_sum"))
              throw new IllegalArgumentException(
                s"$stat needs the stored native-histogram sum (exp_sum column; " +
                  "rows written before it existed must be re-ingested)")
            parts += baseDf
              .filter(col("exp_counts").isNotNull)
              .withColumn("value", v)
              .drop("le", "values", "hist_sum", "exp_scale", "exp_offset",
                "exp_counts", "exp_zero_count", "exp_zero_threshold", "exp_sum")
          }
          if (hasBucket) {
            val cntN = element_at(col("values"), -1)
            def needSum(): Unit =
              if (!baseDf.columns.contains("hist_sum"))
                throw new IllegalArgumentException(
                  s"$stat over bucket storage needs the stored sum " +
                    "(hist_sum column — NHCB remote-write stores it; " +
                    "synthesized bucket tables may not)")
            // midpoint-estimated variance over the cumulative buckets:
            // per-bucket count c_i = values[i]-values[i-1]; bucket i of n
            // contributes at le[0] (i=0, lower bound -Inf), le[n-2]
            // (i=n-1, the +Inf bucket's finite lower bound), else the
            // arithmetic midpoint (le[i-1]+le[i])/2 — the custom-bucket
            // analogue of the exp geometric-mean estimator above
            lazy val varianceN = {
              val nB = size(col("le"))
              val meanN = col("hist_sum") / cntN
              val cnts = transform(sequence(lit(0), nB - 1), i =>
                when(i === 0, element_at(col("values"), 1))
                  .otherwise(element_at(col("values"), i + 1) -
                             element_at(col("values"), i)))
              val mids = transform(sequence(lit(0), nB - 1), i =>
                when(i === 0, element_at(col("le"), 1))
                  .when(i === nB - 1, element_at(col("le"), nB - 1))
                  .otherwise((element_at(col("le"), i) +
                              element_at(col("le"), i + 1)) / 2))
              aggregate(
                zip_with(cnts, mids,
                  (c: Column, m: Column) => c * (m - meanN) * (m - meanN)),
                lit(0.0), (a: Column, x: Column) => a + x) / cntN
            }
            val vN = stat match {
              case "histogram_count" => cntN
              case "histogram_sum" | "histogram_avg" =>
                needSum()
                if (stat == "histogram_sum") col("hist_sum")
                else col("hist_sum") / cntN
              case "histogram_stdvar" => needSum(); varianceN
              case _ => needSum(); sqrt(varianceN)
            }
            parts += baseDf
              .filter(col("le").isNotNull && col("values").isNotNull)
              .withColumn("value", vN)
              .drop("le", "values", "hist_sum", "exp_scale", "exp_offset",
                "exp_counts", "exp_zero_count", "exp_zero_threshold", "exp_sum")
          }
          (parts.result().map(selectorSamplesFrom(_, sel2))
            .reduce(_ unionByName _), sel2)
      }
      val rateKernels = Map("rate" -> RangeFns.Rate,
        "increase" -> RangeFns.Increase, "delta" -> RangeFns.Delta)
      args.head match {
        case sel: Selector if sel.windowMs.isEmpty =>
          val (src, sel2) = derivedScalar(sel, name)
          dropName(periodicFrom(ctx, src, sel2,
            RangeFns.LastOverTime, ctx.lookbackMs))
        case FuncCall(fn, Seq(sel: Selector))
            if rateKernels.contains(fn) && sel.windowMs.isDefined =>
          def planned(stat: String): DataFrame = {
            val (src, sel2) = derivedScalar(sel, stat)
            dropName(periodicFrom(ctx, src, sel2,
              rateKernels(fn), sel.windowMs.get))
          }
          name match {
            case "histogram_count" | "histogram_sum" => planned(name)
            case "histogram_avg" =>
              // rated avg = rated sum / rated count — NOT the rate of the
              // per-sample ratio; both sides share the step grid and keys
              planned("histogram_sum").withColumnRenamed("value", "__s")
                .join(planned("histogram_count").select(col("__key"),
                  col("step_ts"), col("value").as("__c")),
                  Seq("__key", "step_ts"))
                .withColumn("value", col("__s") / col("__c"))
                .transform(finish)
            case other => throw new IllegalArgumentException(
              s"$other over a range-function result is not supported " +
                "(count/sum/avg are; the stddev estimators need " +
                "per-bucket rates)")
          }
        case other => throw new IllegalArgumentException(
          s"$name expects an instant vector selector or " +
            "rate/increase/delta over one, got $other")
      }

    case "histogram_quantile" =>
      val phi = constParam(Some(args(0)))
      bucketHistogram(ctx, args(1))((le, values) =>
        graft.functions.Histograms.quantile(phi, le, values))

    case "histogram_fraction" =>
      val lo = constParam(Some(args(0)))
      val hi = constParam(Some(args(1)))
      bucketHistogram(ctx, args(2))((le, values) =>
        graft.functions.Histograms.fraction(lo, hi, le, values))

    case "histogram_max_quantile" | "histogram_max_quantile_even" =>
      // max-min quantile over the bucket-series form — an extension of the
      // reference's hist-column function: optional max (arg 3) and min
      // (arg 4) VECTORS supply the observed bounds, joined on the same
      // group labels and step. The `_even` variant divides rank placement
      // by count+1 (reference's even-distribution mode).
      val phi = constParam(Some(args(0)))
      val hb = bucketCollect(ctx, args(1))
      val mx = planVector(ctx, args(2))
        .select(col("__key"), col("step_ts"), col("value").as("__mx"))
      val withMx = hb.join(mx, Seq("__key", "step_ts"), "left")
      val withMn =
        if (args.length > 3)
          withMx.join(planVector(ctx, args(3))
            .select(col("__key"), col("step_ts"), col("value").as("__mn")),
            Seq("__key", "step_ts"), "left")
        else withMx.withColumn("__mn", lit(null).cast("double"))
      finish(withMn
        .withColumn("value", graft.functions.Histograms.maxMinQuantile(
          phi, col("__le_arr"), col("__vals"), col("__mn"), col("__mx"),
          even = name == "histogram_max_quantile_even"))
        .drop("__le_arr", "__vals", "__mx", "__mn"))

    case "histogram_bucket" =>
      // FiloDB extension: select the single bucket with the given upper
      // bound from a bucket-series vector (le label).
      val leWant = constParam(Some(args(0)))
      val v = planVector(ctx, args(1))
      v.filter(leNumeric(col("labels")("le")) === leWant)

    case "absent" =>
      args.head match {
        case sel: Selector if sel.windowMs.isEmpty =>
          // instant form: a staleness marker tombstones the series, so
          // absent() answers 1 past it (the cutoff-aware presence);
          // absent_over_time keeps range-vector semantics (markers merely
          // excluded) and stays on the plain path above
          absent(ctx, sel, ctx.lookbackMs, cutStale = true)
        case sel: Selector =>
          // Prometheus type error — don't let the generic branch silently
          // evaluate the matrix selector as last_over_time
          throw new IllegalArgumentException(
            "absent() expects an instant vector, got a range selector — use absent_over_time()")
        case other =>
          // absent over an ARBITRARY vector expression (reference
          // AbsentFunctionMapper, RangeVectorTransformer.scala:422-480,
          // wraps any vector result): plan the child, anti-join the step
          // grid against the steps it produced. Labels are synthesized only
          // for a bare-selector argument (the case above) — Prometheus
          // derives them from nothing else.
          absentOfSteps(ctx, planVector(ctx, other), map().cast("map<string,string>"))
      }

    case "scalar" =>
      val v = planVector(ctx, args.head)
      val grid = scalarGrid(ctx)
      val one = v.groupBy(col("step_ts"))
        .agg(count(lit(1)).as("n"), first(col("value")).as("v"))
      grid.join(one, Seq("step_ts"), "left")
        .withColumn("value", when(col("n") === 1, col("v")).otherwise(lit(Double.NaN)))
        .withColumn("labels", map().cast("map<string,string>"))
        .transform(withKey).transform(finish)

    case "vector" =>
      planVector(ctx, args.head) // scalars already carry empty labels

    case "time" =>
      scalarGrid(ctx).withColumn("value", col("step_ts") / 1000.0)
        .withColumn("labels", map().cast("map<string,string>"))
        .transform(withKey).transform(finish)

    case "pi" =>
      // 0-arg scalar constant (upstream promql 3 trig family)
      scalarGrid(ctx).withColumn("value", lit(math.Pi))
        .withColumn("labels", map().cast("map<string,string>"))
        .transform(withKey).transform(finish)

    case "no_optimize" =>
      // reference planner hint: disable the preagg rewrite and tier
      // routing for the wrapped expression
      planVector(ctx.copy(preagg = Nil, cold = None), args.head)

    case "optimize_with_agg" =>
      // hint requesting the preagg rewrite — ours is automatic, so this is
      // the identity (kept for query compatibility)
      planVector(ctx, args.head)

    case n if InstantFns.TimeScalarFns.contains(n) && args.isEmpty =>
      // 0-arg time scalars (reference ScalarTimeBasedPlan,
      // LogicalPlan.scala:846-855): the calendar function of the evaluation
      // timestamp itself, one value per step on the grid.
      scalarGrid(ctx).withColumn("value", InstantFns(n, col("step_ts") / 1000.0))
        .withColumn("labels", map().cast("map<string,string>"))
        .transform(withKey).transform(finish)

    case "sort" | "sort_desc" =>
      // Series-level sort (reference RangeVectorTransformer.scala:302-337):
      // SERIES are ordered by the value of their FIRST sample (the
      // reference's SortFunctionMapper reads rv.rows().next()); each
      // series' rows stay time-ordered. A row-level orderBy(value) would
      // interleave steps of different series in a range query.
      // Presentation-layer op — the global sort runs on the final (small)
      // result only.
      val v = planVector(ctx, args.head)
      val firstVal = first(col("value")).over(
        Window.partitionBy(col("__key")).orderBy(col("step_ts").asc))
      // asc over the (possibly negated) key puts NaN-valued series last in
      // BOTH directions, as Prometheus does
      val sortKey = if (name == "sort") firstVal else -firstVal
      v.withColumn("__sortv", sortKey)
        .orderBy(col("__sortv").asc, col("__key").asc, col("step_ts").asc)
        .drop("__sortv")

    case "info" =>
      // upstream promql-experimental info() (Prometheus 3.x): enrich
      // every series of v with the DATA labels of the info series
      // (default `target_info` — what the OTLP ingest path emits per
      // resource) that shares its IDENTIFYING labels (job, instance) at
      // that step; the info value (always 1) is discarded, v's value and
      // metric name survive. The optional second argument is an instant
      // series selector narrowing the info series (metric defaults to
      // target_info). Series with no matching info row pass unchanged;
      // existing labels take precedence over conflicting data labels.
      // Determinism: should several info series share (job, instance) at
      // a step, the lexicographically smallest data-label set wins
      // (upstream's experimental build errors; a deterministic pick
      // keeps the operator total — documented divergence).
      val v = planVector(ctx, args.head)
      val infoSel = args.drop(1).headOption match {
        case None => Selector(Some("target_info"), Nil)
        case Some(s: Selector) if s.windowMs.isEmpty && s.windowSteps.isEmpty =>
          if (s.metric.isEmpty) s.copy(metric = Some("target_info")) else s
        case Some(other) => throw new IllegalArgumentException(
          "info: the second argument must be an instant series selector")
      }
      val dataLabels = map_filter(col("labels"), (k, _) =>
        k =!= "__name__" && k =!= "job" && k =!= "instance")
      val infoSlim = planVector(ctx, infoSel)
        .select(col("step_ts").as("__ist"),
          col("labels")("job").as("__ij"),
          col("labels")("instance").as("__ii"),
          SeriesKey.key(dataLabels).as("__dk"),
          dataLabels.as("__data"))
        .groupBy(col("__ist"), col("__ij"), col("__ii"))
        .agg(min_by(col("__data"), col("__dk")).as("__data"))
      val enriched = v
        .join(infoSlim,
          col("step_ts") === col("__ist") &&
            col("labels")("job") <=> col("__ij") &&
            col("labels")("instance") <=> col("__ii"),
          "left")
        .withColumn("labels",
          when(col("__data").isNull, col("labels"))
            .otherwise(map_concat(col("labels"),
              map_filter(col("__data"),
                (k, _) => !map_contains_key(col("labels"), k)))))
        .drop("__ist", "__ij", "__ii", "__data")
      finish(withKey(enriched))

    case "sort_by_label" | "sort_by_label_desc" =>
      // Label-value sort (upstream promql 3, experimental; no reference
      // counterpart): series ordered by the given labels' STRING values,
      // missing label = empty string, ties broken by the full series key.
      // Presentation-layer op like sort/sort_desc — the global sort runs
      // on the final (small) result only.
      val v = planVector(ctx, args.head)
      val keys = args.tail.map(a => coalesce(col("labels")(str(a)), lit("")))
      val ord = if (name == "sort_by_label") keys.map(_.asc) else keys.map(_.desc)
      v.orderBy(ord ++ Seq(col("__key").asc, col("step_ts").asc): _*)

    case "label_replace" =>
      val Seq(vec, dstE, replE, srcE, regexE) = args
      val (dst, repl, src, regex) = (str(dstE), str(replE), str(srcE), str(regexE))
      val v = planVector(ctx, vec)
      // full-anchored match; $1-style backrefs map to Java regex replacement
      val srcVal = coalesce(col("labels")(src), lit(""))
      val matched = srcVal.rlike(anchor(regex))
      val newVal = regexp_replace(srcVal, anchor(regex), repl.replace("$", "\\$")
        .replaceAll("\\\\\\$(\\d)", "\\$$1"))
      val updated = when(matched,
        map_concat(map_filter(col("labels"), (k, _) => k =!= dst),
          when(newVal =!= "", map(lit(dst), newVal)).otherwise(map().cast("map<string,string>"))))
        .otherwise(col("labels"))
      withKey(v.withColumn("labels", updated)).transform(finish)

    case "label_join" =>
      val vec = args.head
      val dst = str(args(1)); val sep = str(args(2))
      val srcs = args.drop(3).map(str)
      val v = planVector(ctx, vec)
      val joined = concat_ws(sep, srcs.map(s => coalesce(col("labels")(s), lit(""))): _*)
      withKey(v.withColumn("labels",
        map_concat(map_filter(col("labels"), (k, _) => k =!= dst), map(lit(dst), joined))))
        .transform(finish)

    case "hist_to_prom_vectors" =>
      // the storage bridges (bridgeHistCols / bridgeExpHist) already
      // explode hist-typed rows into per-`le` bucket series at the
      // selector, so the conversion the reference's HistToPromSeriesMapper
      // performs is the identity here — plan the argument directly
      planVector(ctx, args.head)

    case instant =>
      // scalar math over each sample
      val paramArgs: Seq[Double] = instant match {
        case "round" | "clamp_max" | "clamp_min" =>
          args.drop(1).map(a => constParam(Some(a)))
        case "clamp" => args.drop(1).map(a => constParam(Some(a)))
        case _ => Nil
      }
      val v = planVector(ctx, args.head)
      // upstream clamp special case: min > max returns an EMPTY vector
      // (not max-everywhere, which least(greatest(v,min),max) collapses
      // to). Bounds are plan-time constants, so the check is too — the
      // twin of the NaN-bound constant check in InstantFns.
      if (instant == "clamp" && paramArgs.size == 2 && paramArgs(0) > paramArgs(1))
        dropName(v.filter(lit(false))).transform(finish)
      else
        dropName(v.withColumn("value", InstantFns(instant, col("value"), paramArgs)))
          .transform(finish)
  }

  /** `le` label ("10.0", "+Inf", "Infinity") → numeric upper bound. */
  private def leNumeric(le: Column): Column =
    when(le.isin("+Inf", "Inf", "inf", "Infinity"), lit(Double.PositiveInfinity))
      .otherwise(le.cast("double"))

  /** Bucket-series histogram evaluation (reference
    * HistogramQuantileMapper.scala:12-150): group the vector by labels
    * minus `le`, sort buckets by upper bound, repair monotonicity (rate
    * jitter can de-cumulate buckets), then apply `f(le[], values[])`.
    * One groupBy on the already-periodic vector — the bucket arrays are a
    * few entries per (series, step), never wide. */
  private def bucketHistogram(ctx: Ctx, arg: PromExpr)
                             (f: (Column, Column) => Column): DataFrame =
    finish(bucketCollect(ctx, arg)
      .withColumn("value", f(col("__le_arr"), col("__vals")))
      .drop("__le_arr", "__vals"))

  /** Collect a bucket-series vector into one row per (labels-minus-le,
    * step) with staged `__le_arr`/`__vals` arrays (monotonicity repaired).
    * The repair aggregate is its own projection: the interpolation
    * expressions reference the arrays many times, and Catalyst re-expands
    * (not CSEs) nested higher-order functions at every reference. */
  private def bucketCollect(ctx: Ctx, arg: PromExpr): DataFrame = {
    val v = planVector(ctx, arg)
    val leStr = col("labels")("le")
    val stripped = v.filter(leStr.isNotNull)
      .withColumn("__le", leNumeric(leStr))
      .withColumn("labels",
        map_filter(col("labels"), (k, _) => k =!= "le" && k =!= "__name__"))
    // only (__key, step, le, value) crosses the shuffle; the label map is
    // rebuilt from the key on the (small) grouped output
    val collected = withKey(stripped)
      .select(col("__key"), col("step_ts"), col("__le"), col("value"))
      .groupBy(col("__key"), col("step_ts"))
      .agg(sort_array(collect_list(struct(col("__le").as("le"), col("value").as("v"))))
        .as("__b"))
    val mono = aggregate(col("__b"), array().cast("array<double>"),
      (acc, x) => concat(acc,
        array(greatest(x.getField("v"), coalesce(element_at(acc, -1), x.getField("v"))))))
    collected
      .withColumn("labels", SeriesKey.labels(col("__key")))
      .withColumn("__le_arr", col("__b").getField("le"))
      .withColumn("__vals", mono)
      .drop("__b")
  }

  private def matrixArg(ctx: Ctx, arg: PromExpr, fn: RangeFn): DataFrame = arg match {
    case sel: Selector if sel.windowMs.isDefined =>
      dropName(periodic(ctx, sel, fn, sel.windowMs.get))
    case sq: Subquery =>
      // parameterized range fns (quantile_over_time, predict_linear,
      // holt_winters, …) accept subquery matrices exactly like the plain
      // *_over_time family (r10 upstream-corpus finding: this arm used to
      // reject them)
      dropName(subqueryPeriodic(ctx, sq, fn))
    case other => throw new IllegalArgumentException(s"expected range selector, got $other")
  }

  /** Evaluate a range function over a subquery matrix: plan the inner
    * expression on the subquery's own grid, then treat its steps as raw
    * samples for the outer window kernel. @ pins the outer evaluation and
    * replicates across the requested grid. */
  private def subqueryPeriodic(ctx: Ctx, sq: Subquery, fn: RangeFn): DataFrame = {
    val atR = sq.atMs.map(resolveAt(ctx, _))
    val base = atR.map(a => ctx.copy(startMs = a, endMs = a)).getOrElse(ctx)
    val innerCtx = subqueryCtx(base, sq.rangeMs, sq.stepMs, sq.offsetMs)
    val innerDF = planVector(innerCtx, sq.expr)
      .withColumnRenamed("step_ts", "ts").withColumn("__tie", lit(0L))
    val out = PeriodicSamples(innerDF, Seq("__key", "labels"), "ts", "value",
      base.startMs, base.endMs, ctx.stepMs, sq.rangeMs, fn,
      offsetMs = sq.offsetMs, tieCol = Some("__tie"))
    atR match {
      case Some(_) => out.drop("step_ts").crossJoin(scalarGrid(ctx))
      case None => out
    }
  }

  /** A subquery with no step uses the engine's default evaluation
    * interval, 1 minute — reference SubqueryUtils.scala:26-32 (and
    * Prometheus's default_evaluation_interval) — NOT the outer query
    * step. */
  private val DefaultSubqueryStepMs = 60000L

  private def subqueryCtx(ctx: Ctx, range: Long, step: Option[Long], off: Long): Ctx = {
    val st = step.getOrElse(DefaultSubqueryStepMs)
    // inner evaluation grid covers (start - range - offset, end - offset]
    val innerEnd = ctx.endMs - off
    val innerStart = {
      val s0 = ctx.startMs - off - range
      // align up to the step grid
      val rem = java.lang.Math.floorMod(s0, st)
      if (rem == 0) s0 else s0 + (st - rem)
    }
    ctx.copy(startMs = innerStart, endMs = innerEnd, stepMs = st)
  }

  private def absent(ctx: Ctx, sel: Selector, windowMs: Long,
                     cutStale: Boolean = false): DataFrame = {
    val present = periodic(ctx, sel, RangeFns.PresentOverTime, windowMs, cutStale)
    // synthesize labels from Equals matchers (reference AbsentFunctionMapper;
    // the METRIC NAME is never part of the synthesized set — upstream
    // `absent(nonexistent{job="j"})` answers {job="j"}, not
    // {__name__=...,job="j"}; r10 upstream-corpus finding)
    val eqLabels: Seq[(String, String)] =
      sel.matchers.filter(_.op == MatchOp.Eq).map(m => m.label -> m.value)
    val labelMap =
      if (eqLabels.isEmpty) map().cast("map<string,string>")
      else map(eqLabels.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    absentOfSteps(ctx, present, labelMap)
  }

  /** 1.0 at every grid step where `child` produced NO rows — the shared
    * tail of absent()/absent_over_time(). The child's distinct step set is
    * tiny (≤ steps-per-query), so the anti-join broadcasts under AQE. */
  private def absentOfSteps(ctx: Ctx, child: DataFrame, labelMap: Column): DataFrame =
    scalarGrid(ctx)
      .join(child.select(col("step_ts")).distinct(), Seq("step_ts"), "left_anti")
      .withColumn("value", lit(1.0))
      .withColumn("labels", labelMap)
      .transform(withKey).transform(finish)

  private def str(e: PromExpr): String = e match {
    case StringLit(s) => s
    case other => throw new IllegalArgumentException(s"expected string, got $other")
  }

  // ----- binary ops -----

  private def planBinOp(ctx: Ctx, op: String, lhs: PromExpr, rhs: PromExpr,
                        bool: Boolean, matching: Option[VectorMatch]): DataFrame = {
    val setOp = Set("and", "or", "unless").contains(op)
    val cmp = Set("==", "!=", ">", ">=", "<", "<=").contains(op)

    (lhs, rhs) match {
      case (NumberLit(l), NumberLit(r)) =>
        // scalar-scalar comparisons are always bool (parser-enforced)
        val v = if (cmp) BinaryOps.cmpBool(op, lit(l), lit(r))
                else BinaryOps.scalarOp(op, lit(l), lit(r))
        scalarGrid(ctx).withColumn("value", v)
          .withColumn("labels", map().cast("map<string,string>"))
          .transform(withKey).transform(finish)

      case (NumberLit(l), _) =>
        val r = planVector(ctx, rhs)
        finishScalarVec(applyOp(r, op, lit(l), col("value"), cmp, bool), cmp, bool)

      case (_, NumberLit(rv)) =>
        val l = planVector(ctx, lhs)
        finishScalarVec(applyOp(l, op, col("value"), lit(rv), cmp, bool), cmp, bool)

      case _ if isScalarExpr(lhs) || isScalarExpr(rhs) =>
        // ScalarOperationMapper path (reference
        // RangeVectorTransformer.scala:200-279): a scalar-valued operand
        // (scalar(expr), time(), hour(), scalar arithmetic) carries exactly
        // one value per step — join on step_ts alone and apply elementwise,
        // never on the label key (whose empty label set would match
        // nothing).
        if (setOp)
          throw new IllegalArgumentException(s"set operator $op requires vector operands")
        val scalarOnLeft = isScalarExpr(lhs)
        val (vecE, scE) = if (scalarOnLeft) (rhs, lhs) else (lhs, rhs)
        val v = planVector(ctx, vecE)
        // one row per step: a legitimately tiny broadcast at any scale
        val sc = broadcast(planVector(ctx, scE).select(col("step_ts"), col("value").as("__sv")))
        val joined = v.join(sc, Seq("step_ts"), "inner")
        val (lv, rv) =
          if (scalarOnLeft) (col("__sv"), col("value")) else (col("value"), col("__sv"))
        finishScalarVec(applyOp(joined, op, lv, rv, cmp, bool).drop("__sv"), cmp, bool)

      case _ =>
        val l = planVector(ctx, lhs)
        val r = planVector(ctx, rhs)
        val joinKey = matchKeyCol(matching)
        val lk = l.withColumn("__jk", joinKey)
        val rk = r.withColumn("__jk", joinKey)
        if (setOp) {
          val rKeys = rk.select(col("__jk"), col("step_ts")).distinct()
          op match {
            case "and" => lk.join(rKeys, Seq("__jk", "step_ts"), "left_semi").drop("__jk")
            case "unless" => lk.join(rKeys, Seq("__jk", "step_ts"), "left_anti").drop("__jk")
            case "or" =>
              val lKeys = lk.select(col("__jk"), col("step_ts")).distinct()
              val rhsOnly = rk.join(lKeys, Seq("__jk", "step_ts"), "left_anti").drop("__jk")
              lk.drop("__jk").unionByName(rhsOnly)
          }
        } else {
          val grouping = matching.exists(m => m.groupLeft || m.groupRight)
          val (one, many, flip) =
            if (matching.exists(_.groupRight)) (lk, rk, true) else (rk, lk, false)
          // Cardinality guard (reference BinaryJoinExec:72-117): the "one"
          // side must be unique per (join key, step); duplicates mean the
          // match is many-to-many (or needs group_left/right) — error at
          // runtime via raise_error, no extra action needed.
          val dupW = Window.partitionBy(col("__jk"), col("step_ts"))
          val oneChecked = one
            .withColumn("__dup", count(lit(1)).over(dupW))
            .withColumn("value",
              when(col("__dup") > 1, raise_error(concat(
                lit("found duplicate series for the match group on the "),
                lit(if (grouping) "\"one\"" else "right"),
                lit(" side of a vector binary operation; use group_left/group_right or on/ignoring"))))
                .otherwise(col("value")))
            .drop("__dup")
          // No forced broadcast: the "one" side can be arbitrarily wide
          // (millions of series × steps under group_left) — AQE picks
          // broadcast vs shuffled-hash from the measured size at runtime.
          val oneSide = oneChecked.select(col("__jk"), col("step_ts"),
            col("value").as("__ov"), col("labels").as("__olabels"))
          // without group_left/right the op is one-to-one: the many side
          // must be unique per match group too
          val manyChecked = if (grouping) many else many
            .withColumn("__dup", count(lit(1)).over(dupW))
            .withColumn("value",
              when(col("__dup") > 1, raise_error(lit(
                "multiple series match the same group in a one-to-one vector operation; use group_left/group_right")))
                .otherwise(col("value")))
            .drop("__dup")
          val joined = manyChecked.join(
            if (grouping) oneSide else oneSide.drop("__olabels"),
            Seq("__jk", "step_ts"), "inner")
          val (lv, rv) =
            if (flip) (col("__ov"), col("value")) else (col("value"), col("__ov"))
          val res = applyOp(joined, op, lv, rv, cmp, bool)
          val incl = matching.map(_.include).getOrElse(Nil)
          val withIncl =
            if (incl.nonEmpty)
              res.withColumn("labels", map_concat(
                map_filter(col("labels"), (k, _) => !k.isin(incl: _*)),
                map_filter(col("__olabels"), (k, _) => k.isin(incl: _*))))
            else res
          // ONE-TO-ONE result labels are the MATCH KEY only (on labels, or
          // all-minus-ignoring): `a / ignoring(code) b` emits {method=...}
          // with `code` gone (PromQL vector-matching contract; the r10
          // upstream-corpus run caught the engine keeping the full LHS
          // set). Grouped (group_left/right) results keep the many side's
          // labels, and FILTER comparisons keep the LHS sample untouched
          // (metric name included) — only new-sample ops relabel.
          val relabeled =
            if (grouping || (cmp && !bool)) withIncl
            else withIncl.withColumn("labels", matchKeyMap(matching))
          val cleaned = relabeled.drop("__ov", "__olabels", "__jk")
          if (cmp && !bool) withKey(cleaned).transform(finish)
          else dropName(cleaned).transform(finish)
        }
    }
  }

  /** Scalar-typed expressions per PromQL / the reference's type system:
    * number literals, scalar()/time(), 0-arg time functions
    * (ScalarTimeBasedPlan), and arithmetic composed of scalars. */
  private def isScalarExpr(e: PromExpr): Boolean = e match {
    case NumberLit(_) => true
    case FuncCall("scalar", _) => true
    case FuncCall("time", Seq()) => true
    case FuncCall("pi", Seq()) => true
    case FuncCall(n, Seq()) if InstantFns.TimeScalarFns.contains(n) => true
    case BinOp(o, l, r, _, _) if !Set("and", "or", "unless").contains(o) =>
      isScalarExpr(l) && isScalarExpr(r)
    case _ => false
  }

  /** Apply a binary op to (lv, rv) over df with the reference's
    * BinaryOperatorFunction semantics
    * (`ref:query/exec/binaryOp/BinaryOperatorFunction.scala:20-73`):
    * arithmetic maps the value; a filter comparison keeps the row iff the
    * JAVA comparison holds and emits the LHS operand's value (the
    * reference returns lhs else NaN, NaN meaning no sample — so a prefix
    * `5 > v` emits 5, not the sample, and NaN operands never pass); a
    * `bool` comparison emits 1/0 with NaN when either operand is NaN. */
  private def applyOp(df: DataFrame, op: String, lv: Column, rv: Column,
                      cmp: Boolean, bool: Boolean): DataFrame =
    if (cmp && !bool) df.filter(BinaryOps.cmpKeep(op, lv, rv)).withColumn("value", lv)
    else if (cmp) df.withColumn("value", BinaryOps.cmpBool(op, lv, rv))
    else df.withColumn("value", BinaryOps.scalarOp(op, lv, rv))

  private def finishScalarVec(res: DataFrame, cmp: Boolean, bool: Boolean): DataFrame =
    if (cmp && !bool) withKey(res).transform(finish)
    else dropName(res).transform(finish)

  /** match-key LABEL MAP from on/ignoring; default = all minus __name__ */
  private def matchKeyMap(matching: Option[VectorMatch]): Column = matching match {
    case Some(VectorMatch(true, labels, _, _, _)) =>
      map_filter(col("labels"), (k, _) => k.isin(labels: _*))
    case Some(VectorMatch(false, labels, _, _, _)) =>
      map_filter(col("labels"), (k, _) => !k.isin(labels :+ "__name__": _*))
    case None =>
      map_filter(col("labels"), (k, _) => k =!= "__name__")
  }

  /** join-key column from on/ignoring; default = all labels minus __name__ */
  private def matchKeyCol(matching: Option[VectorMatch]): Column =
    SeriesKey.key(matchKeyMap(matching))
}
