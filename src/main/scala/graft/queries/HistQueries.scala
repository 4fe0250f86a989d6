package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.TsTables
import graft.functions.Histograms
import graft.promql.PromPlanner

/** Histogram operator coverage: build cumulative-bucket histograms from the
  * events stream per (event_type, day), then quantile / fraction /
  * bucket-sum / explode-to-series. Oracles recompute the same Prometheus
  * interpolation in SQL over per-bucket counts.
  */
object HistQueries {

  private val S = TsTables.EventsStartMs
  private val D1 = TsTables.Day

  private val EV =
    s"SELECT event_type, (epoch_ns(ts)//1000000 - $S) // $D1 AS day, value FROM events"

  /** per-(event_type, day) cumulative bucket counts, as SQL columns */
  private val BUCKETS =
    s"""SELECT event_type, day,
        sum(CASE WHEN value <= 10 THEN 1.0 ELSE 0 END) AS c10,
        sum(CASE WHEN value <= 50 THEN 1.0 ELSE 0 END) AS c50,
        sum(CASE WHEN value <= 100 THEN 1.0 ELSE 0 END) AS c100,
        sum(CASE WHEN value <= 200 THEN 1.0 ELSE 0 END) AS c200,
        CAST(count(*) AS DOUBLE) AS ctot
        FROM ev GROUP BY 1,2"""

  private def histDF(s: SparkSession, dir: String): DataFrame = {
    val ev = TsTables.events(s, dir)
      .withColumn("day", ((col("ts_ms") - S) / D1).cast("long"))
    Histograms.fromValues(ev, Seq("event_type", "day"), "value")
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q70_hist_quantile" -> ((s, dir) =>
      histDF(s, dir).select(col("event_type"), col("day"),
        round(Histograms.quantile(0.9, col("le"), col("values")), 6).as("q90"))
        .orderBy("event_type", "day")),

    "q71_hist_sum_buckets" -> ((s, dir) =>
      // exploded to (day, pos, bucket_value) so the compare harness can
      // sort/hash scalar columns (ARRAY columns are unhashable there)
      Histograms.sumBuckets(histDF(s, dir), Seq("day"))
        .select(col("day"), posexplode(col("values")))
        .select(col("day"), col("pos"), col("col").as("bucket_value"))
        .orderBy("day", "pos")),

    "q72_hist_fraction" -> ((s, dir) =>
      histDF(s, dir).select(col("event_type"), col("day"),
        round(Histograms.fraction(25, 150, col("le"), col("values")), 6).as("frac"))
        .orderBy("event_type", "day")),

    "q73_hist_to_prom" -> ((s, dir) =>
      Histograms.toPromVectors(histDF(s, dir), Seq("event_type", "day"))
        .orderBy("event_type", "day", "le")),

    // max-min histogram schema (reference histogram_max_quantile): bucket
    // bounds clamped by observed min/max, +Inf bucket interpolates to max
    "q83_hist_max_quantile" -> ((s, dir) => {
      val ev = TsTables.events(s, dir)
        .withColumn("day", ((col("ts_ms") - S) / D1).cast("long"))
      val mm = ev.groupBy(col("event_type"), col("day"))
        .agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))
      histDF(s, dir).join(mm, Seq("event_type", "day"))
        .select(col("event_type"), col("day"),
          round(Histograms.maxMinQuantile(0.9, col("le"), col("values"),
            col("vmin"), col("vmax")), 6).as("q90mm"))
        .orderBy("event_type", "day")
    }),

    // PromQL-STRING histogram coverage: the planner's bucket-series path
    // (reference HistogramQuantileMapper) reached from a query string.
    "q59_promql_hist_quantile" -> ((s, dir) => {
      val ctx = PromPlanner.Ctx(s, TsTables.eventsAsBucketSamples(s, dir),
        TsTables.EventsStartMs, TsTables.EventsEndMs, TsTables.Day)
      PromPlanner.queryRange(ctx,
        "histogram_quantile(0.9, sum by (le) (sum_over_time(purchase[1d])))")
        .select(col("step_ts"), round(col("value"), 6).as("q90"))
        .orderBy("step_ts")
    }),

    "q79_promql_hist_fraction" -> ((s, dir) => {
      val ctx = PromPlanner.Ctx(s, TsTables.eventsAsBucketSamples(s, dir),
        TsTables.EventsStartMs, TsTables.EventsEndMs, TsTables.Day)
      PromPlanner.queryRange(ctx,
        "histogram_fraction(25, 150, sum by (le) (sum_over_time(purchase[1d])))")
        .select(col("step_ts"), round(col("value"), 6).as("frac"))
        .orderBy("step_ts")
    }),

    // histogram_max_quantile from a PromQL STRING: bucket-series vector +
    // max/min vectors supplying the observed bounds
    "q84_promql_hist_max_quantile" -> ((s, dir) => {
      val bucket = TsTables.eventsAsBucketSamples(s, dir)
      val raw = TsTables.events(s, dir).select(
        concat(col("event_type"), lit("_raw")).as("metric"),
        map().cast("map<string,string>").as("tags"),
        col("ts_ms").as("ts"), col("value"), col("event_id").as("__tie"))
      val ctx = PromPlanner.Ctx(s, bucket.unionByName(raw),
        TsTables.EventsStartMs, TsTables.EventsEndMs, D1)
      PromPlanner.queryRange(ctx,
        """histogram_max_quantile(0.9,
             sum by (le) (sum_over_time(purchase[1d])),
             max(max_over_time(purchase_raw[1d])),
             min(min_over_time(purchase_raw[1d])))""")
        .select(col("step_ts"), round(col("value"), 6).as("q90mm"))
        .orderBy("step_ts")
    }),

    // even-distribution mode (reference HistogramMaxQuantileEvenImpl:
    // rank placement divides by count+1 within the target bucket)
    "q98_promql_hist_max_quantile_even" -> ((s, dir) => {
      val bucket = TsTables.eventsAsBucketSamples(s, dir)
      val raw = TsTables.events(s, dir).select(
        concat(col("event_type"), lit("_raw")).as("metric"),
        map().cast("map<string,string>").as("tags"),
        col("ts_ms").as("ts"), col("value"), col("event_id").as("__tie"))
      val ctx = PromPlanner.Ctx(s, bucket.unionByName(raw),
        TsTables.EventsStartMs, TsTables.EventsEndMs, D1)
      PromPlanner.queryRange(ctx,
        """histogram_max_quantile_even(0.9,
             sum by (le) (sum_over_time(purchase[1d])),
             max(max_over_time(purchase_raw[1d])),
             min(min_over_time(purchase_raw[1d])))""")
        .select(col("step_ts"), round(col("value"), 6).as("q90mm"))
        .orderBy("step_ts")
    }),

    // Hist-typed STORAGE → bucket-series bridge → PromQL string: native
    // histogram samples (le[], values[] per row) queried as
    // histogram_quantile over an instant selector.
    "q78_promql_hist_column" -> ((s, dir) => {
      val hist = histDF(s, dir).select(
        col("event_type").as("metric"),
        map().cast("map<string,string>").as("tags"),
        (lit(S) + (col("day") + 1) * D1).as("ts"),
        col("le"), col("values"))
      val samples = Histograms.bucketSeriesSamples(hist)
      val ctx = PromPlanner.Ctx(s, samples, S + D1, TsTables.EventsEndMs, D1)
      PromPlanner.queryRange(ctx, "histogram_quantile(0.9, purchase)")
        .select(col("step_ts"), round(col("value"), 6).as("q90"))
        .orderBy("step_ts")
    }),

    // OTel exp-histogram STORAGE → PromQL string: sample rows carry
    // (exp_scale, exp_offset, exp_counts) and series_type =
    // "otel_exp_histogram"; the planner's selector bridge converts them to
    // bucket-series samples query-time (Histograms.fromExponentialCols →
    // bucketSeriesSamples), so histogram_quantile works untouched —
    // the reference queries otel-exp-delta-histogram schemas the same way
    // (ExpHistogramVector, Schemas.scala:377-474).
    "q97_promql_exp_hist_quantile" -> ((s, dir) => {
      val ev = TsTables.events(s, dir)
        .withColumn("day", ((col("ts_ms") - S) / D1).cast("long"))
      // scale 0, offset 0: bucket i covers (2^i, 2^(i+1)], le = 2,4,...,512
      // (values never exceed 512 in this corpus; sub-2 values clamp into
      // bucket 0 so every observation is counted)
      val counts = ev.groupBy(col("event_type"), col("day"))
        .agg(array((0 until 9).map { i =>
          val lo = math.pow(2.0, i)
          val hi = math.pow(2.0, i + 1)
          if (i == 0) sum(when(col("value") <= hi, 1.0).otherwise(0.0))
          else sum(when(col("value") > lo && col("value") <= hi, 1.0).otherwise(0.0))
        }: _*).as("exp_counts"))
      val samples = counts.select(
        col("event_type").as("metric"),
        map().cast("map<string,string>").as("tags"),
        (lit(S) + (col("day") + 1) * D1).as("ts"),
        lit(null).cast("double").as("value"),
        lit(0).as("exp_scale"), lit(0).as("exp_offset"), col("exp_counts"),
        lit("otel_exp_histogram").as("series_type"))
      val ctx = PromPlanner.Ctx(s, samples, S + D1, TsTables.EventsEndMs, D1)
      PromPlanner.queryRange(ctx, "histogram_quantile(0.9, purchase)")
        .select(col("step_ts"), round(col("value"), 6).as("q90"))
        .orderBy("step_ts")
    }),

    // rate() over native-hist STORAGE from a PromQL string: sample rows
    // carry (le[], values[]) with CUMULATIVE-over-time bucket counts
    // (true per-bucket counters) and series_type = "prom_histogram"; the
    // planner's selector bridge explodes them into per-le counter series,
    // so the counter-correcting rate kernel, sum by (le), and
    // histogram_quantile compose untouched — the reference serves
    // histogram_quantile(sum(rate(hist_metric[w]))) over prom-histogram
    // schemas the same way (RateFunctions.scala:330-415 hist rate).
    "q106_promql_hist_storage_rate" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = TsTables.events(s, dir)
        .withColumn("day", ((col("ts_ms") - S) / D1).cast("long"))
      val bounds = Seq(10.0, 50.0, 100.0, 200.0, Double.PositiveInfinity)
      // per-(event_type, day) daily bucket counts -> running sum over days
      // = one cumulative counter histogram sample per day
      val daily = ev.groupBy(col("event_type"), col("day"))
        .agg(array(bounds.map(b =>
          sum(when(col("value") <= b, 1.0).otherwise(0.0))): _*).as("daily"))
      val cum = daily.select(col("event_type"), col("day"), posexplode(col("daily")))
        .withColumn("cumv", sum(col("col")).over(
          Window.partitionBy(col("event_type"), col("pos")).orderBy(col("day"))))
        .groupBy(col("event_type"), col("day"))
        .agg(array_sort(collect_list(struct(col("pos"), col("cumv"))))
          .getField("cumv").as("values"))
      val samples = cum.select(
        col("event_type").as("metric"),
        map().cast("map<string,string>").as("tags"),
        (lit(S) + (col("day") + 1) * D1).as("ts"),
        lit(null).cast("double").as("value"),
        typedLit(bounds).as("le"), col("values"),
        lit("prom_histogram").as("series_type"))
      val ctx = PromPlanner.Ctx(s, samples, S + 2 * D1, TsTables.EventsEndMs, D1)
      PromPlanner.queryRange(ctx,
        "histogram_quantile(0.9, sum by (le) (rate(purchase[2d])))")
        .select(col("step_ts"), round(col("value"), 6).as("q90"))
        .orderBy("step_ts")
    }),

    // rate() over OTel exp-histogram DELTA storage: the same rows as q97
    // (per-interval exp_counts, delta temporality by schema like the
    // reference's otel-exp-delta-histogram), but windowed — the planner
    // routes bridged exp buckets to the DELTA rate kernel (sum of
    // per-interval counts / window), then sum by (le) + quantile compose.
    "q148_promql_exp_hist_rate" -> ((s, dir) => {
      val ev = TsTables.events(s, dir)
        .withColumn("day", ((col("ts_ms") - S) / D1).cast("long"))
      val counts = ev.groupBy(col("event_type"), col("day"))
        .agg(array((0 until 9).map { i =>
          val lo = math.pow(2.0, i)
          val hi = math.pow(2.0, i + 1)
          if (i == 0) sum(when(col("value") <= hi, 1.0).otherwise(0.0))
          else sum(when(col("value") > lo && col("value") <= hi, 1.0).otherwise(0.0))
        }: _*).as("exp_counts"))
      val samples = counts.select(
        col("event_type").as("metric"),
        map().cast("map<string,string>").as("tags"),
        (lit(S) + (col("day") + 1) * D1).as("ts"),
        lit(null).cast("double").as("value"),
        lit(0).as("exp_scale"), lit(0).as("exp_offset"), col("exp_counts"),
        lit("otel_exp_histogram").as("series_type"))
      val ctx = PromPlanner.Ctx(s, samples, S + 2 * D1, TsTables.EventsEndMs, D1)
      PromPlanner.queryRange(ctx,
        "histogram_quantile(0.9, sum by (le) (rate(purchase[2d])))")
        .select(col("step_ts"), round(col("value"), 6).as("q90"))
        .orderBy("step_ts")
    }),

    // Prometheus NATIVE histograms over the REMOTE-WRITE WIRE, end to end
    // (prompb.Histogram spans/deltas → ProtoWire decode → PromApi
    // /api/v1/write → cumulative→delta conversion → exp-histogram
    // storage → PromQL): the q148 daily bucket counts are re-expressed as
    // what a real Prometheus sends — CUMULATIVE-over-time integer native
    // histograms, span/delta-encoded — POSTed in four chunks (plus a
    // sender-retry replay of one chunk, which the persisted high-water
    // marks must no-op), and histogram_quantile(0.9, sum by (le)
    // (rate(...[2d]))) over the sink must equal the q148 delta-storage
    // ladder exactly. Oracle = the q148 SQL mirror.
    "q172_native_hist_remote_write" -> ((s, dir) => {
      // fixture ONCE per (session, sfDir) — the HTTP server seed + POSTs
      // are the fixture, the PromQL over the sunk rows is the query;
      // Bench's repeat passes must time the query, not a server re-seed
      // (was 18.5 s/entry, ~30% of the whole suite)
      val sink = q172SinkCache.computeIfAbsent(dir, _ => buildQ172Sink(s, dir))
      val sunk = s.read.option("mergeSchema", "true").parquet(sink)
      val ctx = PromPlanner.Ctx(s, sunk, S + 2 * D1, TsTables.EventsEndMs, D1)
      PromPlanner.queryRange(ctx,
        "histogram_quantile(0.9, sum by (le) (rate(purchase[2d])))")
        .select(col("step_ts"), round(col("value"), 6).as("q90"))
        .orderBy("step_ts")
    }),

    // NHCB (schema -53 custom-bucket native histograms, Prometheus
    // v2.51+/v3) end-to-end: daily CUMULATIVE custom-bucket histograms
    // over the purchase values (bounds 10/50/100/200) ride remote-write —
    // alternating v1 and v2 wire chunks, plus a sender-retry replay the
    // high-water marks must no-op — land as classic prom_histogram
    // bucket storage, and histogram_quantile(0.9, sum by (le)
    // (rate(...[2d]))) evaluates the custom-bound interpolation ladder.
    // Oracle = the q106 extrapolated-counter-rate mirror (same bounds,
    // same classic semantics upstream defines for NHCB).
    "q181_nhcb_remote_write" -> ((s, dir) => {
      val sink = q181SinkCache.computeIfAbsent(dir, _ => buildQ181Sink(s, dir))
      val sunk = s.read.option("mergeSchema", "true").parquet(sink)
      val ctx = PromPlanner.Ctx(s, sunk, S + 2 * D1, TsTables.EventsEndMs, D1)
      PromPlanner.queryRange(ctx,
        "histogram_quantile(0.9, sum by (le) (rate(purchase[2d])))")
        .select(col("step_ts"), round(col("value"), 6).as("q90"))
        .orderBy("step_ts")
    }),

    // histogram_avg over the NHCB sink: count = the +Inf cumulative bucket
    // entry, sum = the wire's stored sum field (hist_sum) — the same
    // latency-SLO question q174 answers over exp storage, here over
    // custom-bucket storage (cumulative temporality, so each instant is
    // the since-start mean; rate-windowed means compose via the bucket
    // bridge as in q181). Mirror: cumulative per-day sum/count in DuckDB.
    "q182_nhcb_sum_avg" -> ((s, dir) => {
      val sink = q181SinkCache.computeIfAbsent(dir, _ => buildQ181Sink(s, dir))
      val sunk = s.read.option("mergeSchema", "true").parquet(sink)
      val ctx = PromPlanner.Ctx(s, sunk, S + D1, TsTables.EventsEndMs, D1,
        lookbackMs = D1)
      PromPlanner.queryRange(ctx, "histogram_avg(purchase)")
        .select(col("step_ts"), round(col("value"), 6).as("avg_val"))
        .orderBy("step_ts")
    }),

    // histogram_stddev over the NHCB sink: the custom-bucket midpoint
    // estimator (upstream funcHistogramStdDev's arithmetic-mean rule for
    // custom buckets; infinite edge buckets contribute at their finite
    // bound) — per-bucket counts from the cumulative le ladder, mean from
    // the stored wire sum. Mirror: the same five-midpoint variance in
    // DuckDB over running per-day bucket counts.
    "q185_nhcb_stddev" -> ((s, dir) => {
      val sink = q181SinkCache.computeIfAbsent(dir, _ => buildQ181Sink(s, dir))
      val sunk = s.read.option("mergeSchema", "true").parquet(sink)
      val ctx = PromPlanner.Ctx(s, sunk, S + D1, TsTables.EventsEndMs, D1,
        lookbackMs = D1)
      PromPlanner.queryRange(ctx, "histogram_stddev(purchase)")
        .select(col("step_ts"), round(col("value"), 6).as("sd_val"))
        .orderBy("step_ts")
    }),

    // TSDB admin API end-to-end (upstream /api/v1/admin/tsdb/delete_series):
    // purchase{user="1"} is tombstoned over the first five days via HTTP
    // (twice — redundant tombstones must be harmless), then daily
    // sum_over_time per user is read back over query_range; the deleted
    // span must be invisible while users 2/3 and user 1's later days
    // survive. Oracle = DuckDB over events with the same rows excluded.
    "q186_delete_series" -> ((s, dir) => {
      import s.implicits._
      val port = deleteFixture(s, dir)
      val pair = """\[([0-9.]+),"([^"]+)"\]""".r
      val rows = Seq("1", "2", "3").flatMap { u =>
        val q = java.net.URLEncoder.encode(
          s"""sum(sum_over_time(purchase{user="$u"}[1d]))""", "UTF-8")
        val url = s"http://localhost:$port/api/v1/query_range?query=$q" +
          s"&start=${(S + D1) / 1000}&end=${TsTables.EventsEndMs / 1000}" +
          "&step=86400"
        val c = new java.net.URI(url).toURL.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        val body = try new String(c.getInputStream.readAllBytes(), "UTF-8")
          finally c.disconnect()
        pair.findAllMatchIn(body).map { m =>
          (math.round(m.group(1).toDouble * 1000), u,
            BigDecimal(m.group(2).toDouble).setScale(6,
              BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }
      rows.toDF("step_ts", "user", "value").orderBy("step_ts", "user")
    }),

    // /federate end-to-end (upstream web/federate.go): the newest
    // purchase sample per user within the lookback at a pinned instant,
    // served as text exposition with each sample's OWN timestamp, parsed
    // back and checked against DuckDB's per-user argmax. Reuses the q180
    // fixture server (same canonical samples).
    "q187_federate" -> ((s, dir) => {
      import s.implicits._
      val port = tsdbFixture(s, dir)
      val T = TsTables.EventsEndMs
      val url = s"http://localhost:$port/federate?" +
        s"match[]=${java.net.URLEncoder.encode("purchase", "UTF-8")}" +
        s"&time=${T / 1000}&lookback_delta=1d"
      val c = new java.net.URI(url).toURL.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      val body = try new String(c.getInputStream.readAllBytes(), "UTF-8")
        finally c.disconnect()
      val line = """purchase\{user="([^"]+)"\} (\S+) (\d+)""".r
      val rows = line.findAllMatchIn(body).map { m =>
        (m.group(1),
          BigDecimal(m.group(2).toDouble).setScale(6,
            BigDecimal.RoundingMode.HALF_UP).toDouble,
          m.group(3).toLong)
      }.toSeq
      rows.toDF("user", "value", "ts_ms").orderBy("user")
    }),

    // Exemplar QUERY surface end-to-end: exemplars ride a remote-write
    // POST into the content-dedup'd side table (a sender-retry replay
    // must append nothing), then /api/v1/query_exemplars answers a
    // selector + time range with the Prometheus response shape — parsed
    // back to rows and checked against DuckDB recomputing the same
    // deterministic sample of purchase events.
    "q178_exemplar_query" -> ((s, dir) => {
      import s.implicits._
      val port = exemplarFixture(s, dir)
      val url = s"http://localhost:$port/api/v1/query_exemplars?" +
        s"query=purchase&start=${S / 1000}&end=${(S + 10 * D1) / 1000}"
      val c = new java.net.URI(url).toURL.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      val body = try new String(c.getInputStream.readAllBytes(), "UTF-8")
        finally c.disconnect()
      val rx = ("""\{"labels":\{"trace_id":"([^"]+)"\},""" +
        """"value":"([^"]+)","timestamp":([0-9.]+)\}""").r
      val rows = rx.findAllMatchIn(body).map { m =>
        (m.group(1), math.round(m.group(3).toDouble * 1000),
          BigDecimal(m.group(2).toDouble).setScale(6,
            BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSeq
      rows.toDF("trace_id", "ts_ms", "value").orderBy("trace_id")
    }),

    // Metric metadata end-to-end: # TYPE/# HELP exposition lines parsed by
    // the gateway, persisted last-write-wins (versioned crash-atomic
    // store), served by /api/v1/metadata — parsed back and checked
    // against DuckDB deriving the same per-event-type rows.
    "q179_metric_metadata" -> ((s, dir) => {
      import s.implicits._
      val port = metadataFixture(s, dir)
      val c = new java.net.URI(s"http://localhost:$port/api/v1/metadata")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      val body = try new String(c.getInputStream.readAllBytes(), "UTF-8")
        finally c.disconnect()
      val rx = """"([^"]+)":\[\{"type":"([^"]*)","help":"([^"]*)","unit":"([^"]*)"\}\]""".r
      rx.findAllMatchIn(body).map(m => (m.group(1), m.group(2), m.group(3)))
        .toSeq.toDF("metric", "mtype", "help").orderBy("metric")
    }),

    // /api/v1/status/tsdb (upstream TSDB-stats API): the per-metric
    // series-count ranking parsed back from the endpoint and checked
    // against DuckDB recomputing distinct (metric, user) series counts
    "q180_tsdb_status" -> ((s, dir) => {
      import s.implicits._
      val port = tsdbFixture(s, dir)
      val c = new java.net.URI(
        s"http://localhost:$port/api/v1/status/tsdb?limit=100")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      val body = try new String(c.getInputStream.readAllBytes(), "UTF-8")
        finally c.disconnect()
      val ranked = """"seriesCountByMetricName":\[(.*?)\]""".r
        .findFirstMatchIn(body).get.group(1)
      """\{"name":"([^"]+)","value":(\d+)\}""".r.findAllMatchIn(ranked)
        .map(m => (m.group(1), m.group(2).toLong)).toSeq
        .toDF("name", "n_series").orderBy("name")
    }),

    // histogram_avg over remote-written NATIVE histograms: the wire's
    // cumulative `sum` field is stored (exp_sum) and delta-converted
    // alongside the buckets, so per-interval mean observation is
    // answerable from a PromQL string — the first thing a latency-SLO
    // user asks of a native histogram. Count derives from the buckets
    // (zero + mass), so avg = interval sum / interval count.
    "q174_native_hist_avg" -> ((s, dir) => {
      val ctx = sumCarryingNativeHistCtx(s, dir)
      PromPlanner.queryRange(ctx, "histogram_avg(purchase)")
        .select(col("step_ts"), round(col("value"), 6).as("avg_val"))
        .orderBy("step_ts")
    }),

    // histogram_stddev over the same remote-written fixture: the upstream
    // estimator places each bucket's mass at the GEOMETRIC mean of its
    // bounds (2^(j+0.5) at scale 0), zero bucket at 0 — the DuckDB mirror
    // recomputes the identical nine-midpoint sum from the raw events
    "q175_native_hist_stddev" -> ((s, dir) => {
      val ctx = sumCarryingNativeHistCtx(s, dir)
      PromPlanner.queryRange(ctx, "histogram_stddev(purchase)")
        .select(col("step_ts"), round(col("value"), 6).as("sd_val"))
        .orderBy("step_ts")
    }),

    // FiloDB data-column selection `m::col` (prometheus/ast/Vectors.scala
    // column selector): the prom-histogram schema also carries cumulative
    // `sum`/`count` columns, and rate(purchase::sum[2d]) serves the sum
    // column as a plain counter series with the same extrapolating kernel
    // — the reference's histogram sum-column rate path.
    "q111_promql_hist_col_select" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = TsTables.events(s, dir)
        .withColumn("day", ((col("ts_ms") - S) / D1).cast("long"))
      val daily = ev.groupBy(col("event_type"), col("day"))
        .agg(sum(col("value")).as("dsum"), count(lit(1)).cast("double").as("dcnt"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val cum = daily.select(col("event_type"), col("day"),
        sum(col("dsum")).over(w).as("sum"), sum(col("dcnt")).over(w).as("count"))
      val samples = cum.select(
        col("event_type").as("metric"),
        map().cast("map<string,string>").as("tags"),
        (lit(S) + (col("day") + 1) * D1).as("ts"),
        lit(null).cast("double").as("value"),
        col("sum"), col("count"),
        lit("prom_histogram").as("series_type"))
      val ctx = PromPlanner.Ctx(s, samples, S + 2 * D1, TsTables.EventsEndMs, D1)
      PromPlanner.queryRange(ctx, "rate(purchase::sum[2d])")
        .select(col("step_ts"), round(col("value"), 6).as("rate_sum"))
        .orderBy("step_ts")
    }),

    // STALENESS MARKERS end-to-end (upstream pkg/value StaleNaN): user 1's
    // purchase target "dies" after day 5 — its sender remote-writes the
    // StaleNaN bit pattern, decoded at the wire bits into a __stale
    // tombstone row through the same hwm/quota/sink chain (a sender-retry
    // replay of the marker chunk must no-op). Three live-HTTP probes over
    // the sunk parquet, 1h..2h past the marker with a 1d lookback:
    //  - instant `purchase`: users 2/3 answer with their day-5 sample;
    //    user 1 is HIDDEN although its day-5 sample is inside the window
    //    (the marker cuts the lookback — without it the series lingers);
    //  - /federate: same cut, text exposition, the sample's OWN ts;
    //  - query_range sum_over_time(user 1): every pre-marker day still
    //    answers (markers are invisible to range vectors) and the
    //    marker's own day-6 window yields NO row.
    // Oracle = DuckDB daily sums with exactly those rows.
    "q189_stale_marker_ingest" -> ((s, dir) => {
      import s.implicits._
      val port = staleFixture(s, dir)
      val probe = StaleMarkerTs + 3600000L
      def get(path: String): String = {
        val c = new java.net.URI(s"http://localhost:$port$path")
          .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
        try new String(c.getInputStream.readAllBytes(), "UTF-8")
        finally c.disconnect()
      }
      def r6(v: Double): Double =
        BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      // 6d lookback: every user's newest pre-marker sample is INSIDE the
      // window, so user 1 answering would be the no-marker behavior —
      // its absence is the marker cut, not staleness ageing
      val inst = get(s"/api/v1/query?query=purchase&time=${probe / 1000}" +
        "&lookback_delta=6d")
      val instRx = """"user":"([^"]+)"\},"value":\[[0-9.]+,"([^"]+)"\]""".r
      val instRows = instRx.findAllMatchIn(inst).map(m =>
        ("instant", m.group(1), 0L, r6(m.group(2).toDouble))).toSeq
      val fed = get(s"/federate?match[]=purchase&time=${probe / 1000}" +
        "&lookback_delta=6d")
      val fedRx = """purchase\{user="([^"]+)"\} (\S+) (\d+)""".r
      val fedRows = fedRx.findAllMatchIn(fed).map(m =>
        ("federate", m.group(1), m.group(3).toLong, r6(m.group(2).toDouble))).toSeq
      val rng = get("/api/v1/query_range?query=" +
        java.net.URLEncoder.encode(
          """sum(sum_over_time(purchase{user="1"}[1d]))""", "UTF-8") +
        s"&start=${(S + D1) / 1000}&end=${(S + 7 * D1) / 1000}&step=86400")
      val rngRx = """\[([0-9.]+),"([^"]+)"\]""".r
      val rngRows = rngRx.findAllMatchIn(rng).map(m =>
        ("range", "1", math.round(m.group(1).toDouble * 1000),
          r6(m.group(2).toDouble))).toSeq
      (instRows ++ fedRows ++ rngRows)
        .toDF("surface", "user", "ts_ms", "value")
        .orderBy("surface", "user", "ts_ms")
    }),

    // histogram_fraction over NHCB storage from a PromQL string: the same
    // q181 custom-bucket remote-write sink, asking what share of the
    // rate-windowed distribution lies in (25, 150] — the custom-bound
    // linear interpolation upstream defines, over the monotonicity-
    // repaired per-bucket rate ladder. Mirror: the q181 rate CTEs with
    // the q72 fraction CASE.
    "q190_nhcb_fraction" -> ((s, dir) => {
      val sink = q181SinkCache.computeIfAbsent(dir, _ => buildQ181Sink(s, dir))
      val sunk = s.read.option("mergeSchema", "true").parquet(sink)
      val ctx = PromPlanner.Ctx(s, sunk, S + 2 * D1, TsTables.EventsEndMs, D1)
      PromPlanner.queryRange(ctx,
        "histogram_fraction(25, 150, sum by (le) (rate(purchase[2d])))")
        .select(col("step_ts"), round(col("value"), 6).as("frac"))
        .orderBy("step_ts")
    }),

    // OTLP ingest end to end (/api/v1/otlp/v1/metrics — the wire modern
    // collectors speak): the q181 daily cumulative custom-bucket
    // histograms re-expressed as OTLP explicit-bound HistogramDataPoints
    // (gzip'd protobuf exports in two chunks plus a collector-retry
    // replay the high-water marks must no-op), landing as the same NHCB
    // bucket storage through the shared remote-write commit chain — and
    // the identical quantile ladder answers. Oracle = the q181 mirror.
    "q191_otlp_ingest" -> ((s, dir) => {
      val sink = q191SinkCache.computeIfAbsent(dir, _ => buildQ191Sink(s, dir))
      val sunk = s.read.option("mergeSchema", "true").parquet(sink)
      val ctx = PromPlanner.Ctx(s, sunk, S + 2 * D1, TsTables.EventsEndMs, D1)
      PromPlanner.queryRange(ctx,
        "histogram_quantile(0.9, sum by (le) (rate(purchase[2d])))")
        .select(col("step_ts"), round(col("value"), 6).as("q90"))
        .orderBy("step_ts")
    }),

    // info() over OTLP-produced target_info (upstream promql-experimental
    // x OTLP resource attributes, end to end): daily purchase totals ride
    // two OTLP exports whose resource carries service.name/instance.id
    // (-> job/instance labels) plus deployment.environment (-> a
    // target_info series stamped per export; the first export holds only
    // the FIRST day, so its target_info timestamp precedes every step and
    // a whole-range lookback serves the join at each one);
    // info(sum_over_time(...)) joins the data label back onto every step.
    // A collector-retry replay must no-op. Oracle = DuckDB daily sums
    // with the constant env column.
    "q193_otlp_info_join" -> ((s, dir) => {
      val sink = q193SinkCache.computeIfAbsent(dir, _ => buildQ193Sink(s, dir))
      val sunk = s.read.option("mergeSchema", "true").parquet(sink)
      val ctx = PromPlanner.Ctx(s, sunk, S + D1, TsTables.EventsEndMs, D1,
        lookbackMs = TsTables.EventsEndMs - S + D1)
      PromPlanner.queryRange(ctx,
        """info(sum_over_time(purchase{job="shop"}[1d]))""")
        .select(col("labels")("deployment_environment").as("env"),
          col("step_ts"), round(col("value"), 6).as("value"))
        .orderBy("step_ts")
    }),

    // SNAPSHOT end to end (upstream /api/v1/admin/tsdb/snapshot): daily
    // per-user sums remote-written, snapshotted over live HTTP, then user
    // 1 is delete_series'd AND physically purged from the LIVE store —
    // the frozen snapshot must still answer the full pre-delete history
    // for every user, which only holds if the hardlinked copy is a real
    // point-in-time store and the purge's partition rewrites never touch
    // it. Oracle = DuckDB daily sums with NO exclusions.
    "q192_snapshot_read" -> ((s, dir) => {
      val snap = q192SnapCache.computeIfAbsent(dir, _ => buildQ192Snapshot(s, dir))
      val sunk = s.read.option("mergeSchema", "true").parquet(snap)
      val ctx = PromPlanner.Ctx(s, sunk, S + D1, TsTables.EventsEndMs, D1)
      PromPlanner.queryRange(ctx,
        """sum by (user) (sum_over_time(purchase{user=~"1|2|3"}[1d]))""")
        .select(col("labels")("user").as("user"), col("step_ts"),
          round(col("value"), 6).as("value"))
        .orderBy("step_ts", "user")
    }),

    // SNAPSHOT RESTORE end to end: the q192 snapshot (taken BEFORE user 1
    // was purged from the live store) restored into a fresh directory via
    // Snapshots.restore — _SUCCESS-manifest-verified hardlink-back — must
    // answer the full pre-delete history for every user, byte-identical
    // to querying the snapshot in place. Oracle = the q192 mirror (full
    // daily sums, user 1 included).
    "q195_snapshot_restore" -> ((s, dir) => {
      val restored = q195RestoreCache.computeIfAbsent(dir, _ =>
        buildQ195Restore(s, dir))
      val sunk = s.read.option("mergeSchema", "true").parquet(restored)
      val ctx = PromPlanner.Ctx(s, sunk, S + D1, TsTables.EventsEndMs, D1)
      PromPlanner.queryRange(ctx,
        """sum by (user) (sum_over_time(purchase{user=~"1|2|3"}[1d]))""")
        .select(col("labels")("user").as("user"), col("step_ts"),
          round(col("value"), 6).as("value"))
        .orderBy("step_ts", "user")
    }),

    // OTLP DELTA temporality behind the opt-in flag (upstream's
    // otlp-deltatocumulative analogue): daily per-user purchase sums
    // arrive as DELTA monotonic-sum points — each sample is that day's
    // increment, the wire shape real collector pipelines emit — through a
    // flag-enabled server (the default server answers 400). They land as
    // the engine's native series_type="delta" counters, a collector-retry
    // replay must no-op at the hwm (a re-added delta would DOUBLE-COUNT,
    // the failure mode cumulative ingest never has), and
    // increase(purchase_total[1d]) at daily steps recovers exactly the
    // per-day sums — hash-matching the DuckDB cumulative mirror computed
    // straight from events.
    "q194_otlp_delta_ingest" -> ((s, dir) => {
      val sink = q194SinkCache.computeIfAbsent(dir, _ => buildQ194Sink(s, dir))
      val sunk = s.read.option("mergeSchema", "true").parquet(sink)
      val ctx = PromPlanner.Ctx(s, sunk, S + D1, TsTables.EventsEndMs, D1)
      PromPlanner.queryRange(ctx,
        """increase(purchase_total{user=~"1|2|3"}[1d])""")
        .select(col("labels")("user").as("user"), col("step_ts"),
          round(col("value"), 6).as("value"))
        .orderBy("step_ts", "user")
    }),

    // SAMPLES-SINK BATCH-DIR COMPACTION end to end (the reference's
    // chunk-flush + compaction lifecycle, ref:core/src/main/scala/
    // filodb.core/memstore/TimeSeriesShard.scala): per-user daily sums
    // drain through a spool-mode server capped at ONE file per commit —
    // the worst-case many-tiny-dirs layout sustained ingest produces —
    // then Ingest.compactSink folds the old batch dirs into one
    // consolidated, (series_id, ts)-clustered dir. The fixture asserts
    // the physical collapse and that a post-compaction duplicate re-POST
    // still hwm-drops (the fold never touches the index); this query then
    // proves the ROW SET survived byte-identical by hash-matching the
    // same DuckDB mirror an uncompacted sink matches.
    "q196_sink_compaction" -> ((s, dir) => {
      val sink = q196SinkCache.computeIfAbsent(dir, _ => buildQ196Sink(s, dir))
      val sunk = s.read.option("mergeSchema", "true").parquet(sink)
      val ctx = PromPlanner.Ctx(s, sunk, S + D1, TsTables.EventsEndMs, D1)
      PromPlanner.queryRange(ctx,
        """sum by (user) (sum_over_time(purchase{user=~"1|2|3"}[1d]))""")
        .select(col("labels")("user").as("user"), col("step_ts"),
          round(col("value"), 6).as("value"))
        .orderBy("step_ts", "user")
    })
  )

  def oracles: Map[String, String] = Map(

    "q178_exemplar_query" ->
      s"""SELECT CAST(event_id AS VARCHAR) AS trace_id,
                 epoch_ns(ts)//1000000 AS ts_ms,
                 round(value, 6) AS value
          FROM events
          WHERE event_type = 'purchase' AND event_id % 7 = 0
            AND epoch_ns(ts)//1000000 BETWEEN $S AND ${S + 10 * D1}
          ORDER BY trace_id""",

    "q179_metric_metadata" ->
      s"""SELECT DISTINCT event_type AS metric, 'counter' AS mtype,
                 'Series for ' || event_type || '.' AS help
          FROM events ORDER BY metric""",

    "q180_tsdb_status" ->
      s"""SELECT event_type AS name, count(DISTINCT user_id) AS n_series
          FROM events GROUP BY event_type ORDER BY name""",

    "q70_hist_quantile" ->
      s"""WITH ev AS ($EV), b AS ($BUCKETS)
          SELECT event_type, day,
            round(CASE
              WHEN c10 >= 0.9*ctot THEN 0.0 + (10.0 - 0.0) * (0.9*ctot - 0.0) / (c10 - 0.0)
              WHEN c50 >= 0.9*ctot THEN 10.0 + (50.0 - 10.0) * (0.9*ctot - c10) / (c50 - c10)
              WHEN c100 >= 0.9*ctot THEN 50.0 + (100.0 - 50.0) * (0.9*ctot - c50) / (c100 - c50)
              WHEN c200 >= 0.9*ctot THEN 100.0 + (200.0 - 100.0) * (0.9*ctot - c100) / (c200 - c100)
              ELSE 200.0 END, 6) AS q90
          FROM b ORDER BY 1,2""",

    "q71_hist_sum_buckets" ->
      s"""WITH ev AS ($EV),
          b AS (SELECT day,
                  sum(CASE WHEN value <= 10 THEN 1.0 ELSE 0 END) AS c10,
                  sum(CASE WHEN value <= 50 THEN 1.0 ELSE 0 END) AS c50,
                  sum(CASE WHEN value <= 100 THEN 1.0 ELSE 0 END) AS c100,
                  sum(CASE WHEN value <= 200 THEN 1.0 ELSE 0 END) AS c200,
                  CAST(count(*) AS DOUBLE) AS ctot
                FROM ev GROUP BY 1),
          p(pos) AS (VALUES (0), (1), (2), (3), (4))
          SELECT b.day, p.pos,
                 CASE p.pos WHEN 0 THEN c10 WHEN 1 THEN c50 WHEN 2 THEN c100
                            WHEN 3 THEN c200 ELSE ctot END AS bucket_value
          FROM b CROSS JOIN p ORDER BY day, pos""",

    "q72_hist_fraction" ->
      s"""WITH ev AS ($EV), b AS ($BUCKETS)
          SELECT event_type, day,
            round(((c100 + (c200 - c100) * (150.0 - 100.0) / (200.0 - 100.0))
                 - (c10 + (c50 - c10) * (25.0 - 10.0) / (50.0 - 10.0))) / ctot, 6) AS frac
          FROM b ORDER BY 1,2""",

    "q73_hist_to_prom" ->
      s"""WITH ev AS ($EV), b AS ($BUCKETS),
          pos(le, ord) AS (VALUES ('10.0', 1), ('50.0', 2), ('100.0', 3), ('200.0', 4), ('Infinity', 5))
          SELECT b.event_type, b.day, pos.le,
                 CASE pos.ord WHEN 1 THEN c10 WHEN 2 THEN c50 WHEN 3 THEN c100
                              WHEN 4 THEN c200 ELSE ctot END AS bucket_count
          FROM b CROSS JOIN pos ORDER BY event_type, day, le""",

    "q83_hist_max_quantile" ->
      s"""WITH ev AS ($EV),
          b AS (SELECT event_type, day,
                  sum(CASE WHEN value <= 10 THEN 1.0 ELSE 0 END) AS c10,
                  sum(CASE WHEN value <= 50 THEN 1.0 ELSE 0 END) AS c50,
                  sum(CASE WHEN value <= 100 THEN 1.0 ELSE 0 END) AS c100,
                  sum(CASE WHEN value <= 200 THEN 1.0 ELSE 0 END) AS c200,
                  CAST(count(*) AS DOUBLE) AS ctot,
                  min(value) AS vmin, max(value) AS vmax
                FROM ev GROUP BY 1,2),
          q AS (SELECT *, 0.9*ctot AS r FROM b),
          q2 AS (SELECT *,
            CASE WHEN c10 >= r THEN 0.0 WHEN c50 >= r THEN 10.0
                 WHEN c100 >= r THEN 50.0 WHEN c200 >= r THEN 100.0
                 ELSE 200.0 END AS bstart,
            CASE WHEN c10 >= r THEN 10.0 WHEN c50 >= r THEN 50.0
                 WHEN c100 >= r THEN 100.0 WHEN c200 >= r THEN 200.0
                 ELSE 'Infinity'::DOUBLE END AS bend,
            CASE WHEN c10 >= r THEN 0.0 WHEN c50 >= r THEN c10
                 WHEN c100 >= r THEN c50 WHEN c200 >= r THEN c100
                 ELSE c200 END AS cprev,
            CASE WHEN c10 >= r THEN c10 WHEN c50 >= r THEN c50
                 WHEN c100 >= r THEN c100 WHEN c200 >= r THEN c200
                 ELSE ctot END AS ccur
            FROM q),
          q3 AS (SELECT *,
            CASE WHEN vmin > bstart AND vmin <= bend THEN vmin ELSE bstart END AS bstart2
            FROM q2),
          q4 AS (SELECT *,
            CASE WHEN vmax > bstart2 AND vmax <= bend THEN vmax ELSE bend END AS bend2
            FROM q3)
          SELECT event_type, day,
            round(CASE WHEN bend2 = 'Infinity'::DOUBLE THEN 200.0
              ELSE bstart2 + (bend2 - bstart2) * (r - cprev) / (ccur - cprev) END, 6) AS q90mm
          FROM q4 ORDER BY 1, 2""",

    "q84_promql_hist_max_quantile" ->
      s"""WITH ev AS (SELECT event_type, epoch_ns(ts)//1000000 AS ts_ms, value FROM events),
          stps AS (SELECT unnest(generate_series($S, ${TsTables.EventsEndMs}, $D1)) AS step_ts),
          b AS (SELECT s.step_ts,
                  sum(CASE WHEN e.value <= 10 THEN 1.0 ELSE 0 END) AS c10,
                  sum(CASE WHEN e.value <= 50 THEN 1.0 ELSE 0 END) AS c50,
                  sum(CASE WHEN e.value <= 100 THEN 1.0 ELSE 0 END) AS c100,
                  sum(CASE WHEN e.value <= 200 THEN 1.0 ELSE 0 END) AS c200,
                  CAST(count(*) AS DOUBLE) AS ctot,
                  min(e.value) AS vmin, max(e.value) AS vmax
                FROM stps s JOIN ev e
                  ON e.ts_ms > s.step_ts - $D1 AND e.ts_ms <= s.step_ts
                WHERE e.event_type = 'purchase' GROUP BY 1),
          q AS (SELECT *, 0.9*ctot AS r FROM b),
          q2 AS (SELECT *,
            CASE WHEN c10 >= r THEN 0.0 WHEN c50 >= r THEN 10.0
                 WHEN c100 >= r THEN 50.0 WHEN c200 >= r THEN 100.0
                 ELSE 200.0 END AS bstart,
            CASE WHEN c10 >= r THEN 10.0 WHEN c50 >= r THEN 50.0
                 WHEN c100 >= r THEN 100.0 WHEN c200 >= r THEN 200.0
                 ELSE 'Infinity'::DOUBLE END AS bend,
            CASE WHEN c10 >= r THEN 0.0 WHEN c50 >= r THEN c10
                 WHEN c100 >= r THEN c50 WHEN c200 >= r THEN c100
                 ELSE c200 END AS cprev,
            CASE WHEN c10 >= r THEN c10 WHEN c50 >= r THEN c50
                 WHEN c100 >= r THEN c100 WHEN c200 >= r THEN c200
                 ELSE ctot END AS ccur
            FROM q),
          q3 AS (SELECT *,
            CASE WHEN vmin > bstart AND vmin <= bend THEN vmin ELSE bstart END AS bstart2
            FROM q2),
          q4 AS (SELECT *,
            CASE WHEN vmax > bstart2 AND vmax <= bend THEN vmax ELSE bend END AS bend2
            FROM q3)
          SELECT step_ts,
            round(CASE WHEN bend2 = 'Infinity'::DOUBLE THEN 200.0
              ELSE bstart2 + (bend2 - bstart2) * (r - cprev) / (ccur - cprev) END, 6) AS q90mm
          FROM q4 ORDER BY 1""",

    // identical pipeline; even-distribution rank placement: /(count + 1)
    "q98_promql_hist_max_quantile_even" ->
      s"""WITH ev AS (SELECT event_type, epoch_ns(ts)//1000000 AS ts_ms, value FROM events),
          stps AS (SELECT unnest(generate_series($S, ${TsTables.EventsEndMs}, $D1)) AS step_ts),
          b AS (SELECT s.step_ts,
                  sum(CASE WHEN e.value <= 10 THEN 1.0 ELSE 0 END) AS c10,
                  sum(CASE WHEN e.value <= 50 THEN 1.0 ELSE 0 END) AS c50,
                  sum(CASE WHEN e.value <= 100 THEN 1.0 ELSE 0 END) AS c100,
                  sum(CASE WHEN e.value <= 200 THEN 1.0 ELSE 0 END) AS c200,
                  CAST(count(*) AS DOUBLE) AS ctot,
                  min(e.value) AS vmin, max(e.value) AS vmax
                FROM stps s JOIN ev e
                  ON e.ts_ms > s.step_ts - $D1 AND e.ts_ms <= s.step_ts
                WHERE e.event_type = 'purchase' GROUP BY 1),
          q AS (SELECT *, 0.9*ctot AS r FROM b),
          q2 AS (SELECT *,
            CASE WHEN c10 >= r THEN 0.0 WHEN c50 >= r THEN 10.0
                 WHEN c100 >= r THEN 50.0 WHEN c200 >= r THEN 100.0
                 ELSE 200.0 END AS bstart,
            CASE WHEN c10 >= r THEN 10.0 WHEN c50 >= r THEN 50.0
                 WHEN c100 >= r THEN 100.0 WHEN c200 >= r THEN 200.0
                 ELSE 'Infinity'::DOUBLE END AS bend,
            CASE WHEN c10 >= r THEN 0.0 WHEN c50 >= r THEN c10
                 WHEN c100 >= r THEN c50 WHEN c200 >= r THEN c100
                 ELSE c200 END AS cprev,
            CASE WHEN c10 >= r THEN c10 WHEN c50 >= r THEN c50
                 WHEN c100 >= r THEN c100 WHEN c200 >= r THEN c200
                 ELSE ctot END AS ccur
            FROM q),
          q3 AS (SELECT *,
            CASE WHEN vmin > bstart AND vmin <= bend THEN vmin ELSE bstart END AS bstart2
            FROM q2),
          q4 AS (SELECT *,
            CASE WHEN vmax > bstart2 AND vmax <= bend THEN vmax ELSE bend END AS bend2
            FROM q3)
          SELECT step_ts,
            round(CASE WHEN bend2 = 'Infinity'::DOUBLE THEN 200.0
              ELSE bstart2 + (bend2 - bstart2) * (r - cprev) / (ccur - cprev + 1.0) END, 6) AS q90mm
          FROM q4 ORDER BY 1""",

    "q59_promql_hist_quantile" ->
      s"""WITH ev AS (SELECT event_type, epoch_ns(ts)//1000000 AS ts_ms, value FROM events),
          stps AS (SELECT unnest(generate_series($S, ${TsTables.EventsEndMs}, $D1)) AS step_ts),
          b AS (SELECT s.step_ts,
                  sum(CASE WHEN e.value <= 10 THEN 1.0 ELSE 0 END) AS c10,
                  sum(CASE WHEN e.value <= 50 THEN 1.0 ELSE 0 END) AS c50,
                  sum(CASE WHEN e.value <= 100 THEN 1.0 ELSE 0 END) AS c100,
                  sum(CASE WHEN e.value <= 200 THEN 1.0 ELSE 0 END) AS c200,
                  CAST(count(*) AS DOUBLE) AS ctot
                FROM stps s JOIN ev e
                  ON e.ts_ms > s.step_ts - $D1 AND e.ts_ms <= s.step_ts
                WHERE e.event_type = 'purchase' GROUP BY 1)
          SELECT step_ts,
            round(CASE
              WHEN c10 >= 0.9*ctot THEN 0.0 + (10.0 - 0.0) * (0.9*ctot - 0.0) / (c10 - 0.0)
              WHEN c50 >= 0.9*ctot THEN 10.0 + (50.0 - 10.0) * (0.9*ctot - c10) / (c50 - c10)
              WHEN c100 >= 0.9*ctot THEN 50.0 + (100.0 - 50.0) * (0.9*ctot - c50) / (c100 - c50)
              WHEN c200 >= 0.9*ctot THEN 100.0 + (200.0 - 100.0) * (0.9*ctot - c100) / (c200 - c100)
              ELSE 200.0 END, 6) AS q90
          FROM b ORDER BY 1""",

    "q79_promql_hist_fraction" ->
      s"""WITH ev AS (SELECT event_type, epoch_ns(ts)//1000000 AS ts_ms, value FROM events),
          stps AS (SELECT unnest(generate_series($S, ${TsTables.EventsEndMs}, $D1)) AS step_ts),
          b AS (SELECT s.step_ts,
                  sum(CASE WHEN e.value <= 10 THEN 1.0 ELSE 0 END) AS c10,
                  sum(CASE WHEN e.value <= 50 THEN 1.0 ELSE 0 END) AS c50,
                  sum(CASE WHEN e.value <= 100 THEN 1.0 ELSE 0 END) AS c100,
                  sum(CASE WHEN e.value <= 200 THEN 1.0 ELSE 0 END) AS c200,
                  CAST(count(*) AS DOUBLE) AS ctot
                FROM stps s JOIN ev e
                  ON e.ts_ms > s.step_ts - $D1 AND e.ts_ms <= s.step_ts
                WHERE e.event_type = 'purchase' GROUP BY 1)
          SELECT step_ts,
            round(((c100 + (c200 - c100) * (150.0 - 100.0) / (200.0 - 100.0))
                 - (c10 + (c50 - c10) * (25.0 - 10.0) / (50.0 - 10.0))) / ctot, 6) AS frac
          FROM b ORDER BY 1""",

    "q78_promql_hist_column" ->
      s"""WITH ev AS ($EV), b AS ($BUCKETS)
          SELECT $S + (day + 1) * $D1 AS step_ts,
            round(CASE
              WHEN c10 >= 0.9*ctot THEN 0.0 + (10.0 - 0.0) * (0.9*ctot - 0.0) / (c10 - 0.0)
              WHEN c50 >= 0.9*ctot THEN 10.0 + (50.0 - 10.0) * (0.9*ctot - c10) / (c50 - c10)
              WHEN c100 >= 0.9*ctot THEN 50.0 + (100.0 - 50.0) * (0.9*ctot - c50) / (c100 - c50)
              WHEN c200 >= 0.9*ctot THEN 100.0 + (200.0 - 100.0) * (0.9*ctot - c100) / (c200 - c100)
              ELSE 200.0 END, 6) AS q90
          FROM b WHERE event_type = 'purchase' ORDER BY 1""",

    "q97_promql_exp_hist_quantile" ->
      s"""WITH ev AS ($EV), b AS (
            SELECT event_type, day, $expCols
            FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2)
          SELECT $S + (day + 1) * $D1 AS step_ts, round($expCase, 6) AS q90
          FROM b ORDER BY 1""",

    // mirrors RangeFns.extrapolated exactly for the 2-samples-per-window
    // layout (samples 1d apart, window 2d): sampledInterval = start gap =
    // 86400 s, end gap = 0, n = 2 -> the only conditional left is the
    // counter zero-point clamp; then the q70 quantile CASE over
    // monotonicity-repaired per-bucket rates
    "q106_promql_hist_storage_rate" -> classicHistRateQuantileSql,

    // the NHCB wire path (schema -53, custom_values 10/50/100/200) lands
    // the SAME classic cumulative bucket storage q106 synthesizes
    // directly, so the mirror is the identical extrapolated-counter-rate
    // interpolation ladder
    "q181_nhcb_remote_write" -> classicHistRateQuantileSql,

    // NHCB cumulative storage: each day's instant histogram_avg is the
    // since-start mean = running sum(value) / running count
    "q182_nhcb_sum_avg" ->
      s"""WITH ev AS (SELECT (epoch_ns(ts)//1000000 - $S) // $D1 AS day, value
                      FROM events WHERE event_type = 'purchase'),
          daily AS (SELECT day, count(*)::DOUBLE AS c, sum(value) AS sm
                    FROM ev GROUP BY day),
          cum AS (SELECT day, sum(c) OVER (ORDER BY day) AS cc,
                         sum(sm) OVER (ORDER BY day) AS cs
                  FROM daily)
          SELECT $S + (day + 1) * $D1 AS step_ts, round(cs / cc, 6) AS avg_val
          FROM cum ORDER BY 1""",

    // NHCB midpoint-estimated stddev: running bucket counts over the
    // 10/50/100/200 ladder; bucket masses (c10, c50-c10, c100-c50,
    // c200-c100, cc-c200) contribute at midpoints (10, 30, 75, 150) with
    // the +Inf bucket at its finite lower bound 200; mean = cs/cc
    "q185_nhcb_stddev" ->
      s"""WITH ev AS (SELECT (epoch_ns(ts)//1000000 - $S) // $D1 AS day, value
                      FROM events WHERE event_type = 'purchase'),
          daily AS (SELECT day, count(*)::DOUBLE AS c, sum(value) AS sm,
                      sum(CASE WHEN value <= 10 THEN 1.0 ELSE 0 END) AS d10,
                      sum(CASE WHEN value <= 50 THEN 1.0 ELSE 0 END) AS d50,
                      sum(CASE WHEN value <= 100 THEN 1.0 ELSE 0 END) AS d100,
                      sum(CASE WHEN value <= 200 THEN 1.0 ELSE 0 END) AS d200
                    FROM ev GROUP BY day),
          cum AS (SELECT day, sum(c) OVER w AS cc, sum(sm) OVER w AS cs,
                         sum(d10) OVER w AS c10, sum(d50) OVER w AS c50,
                         sum(d100) OVER w AS c100, sum(d200) OVER w AS c200
                  FROM daily WINDOW w AS (ORDER BY day)),
          v AS (SELECT day, cc, cs / cc AS mean,
                  c10, c50 - c10 AS b1, c100 - c50 AS b2,
                  c200 - c100 AS b3, cc - c200 AS b4
                FROM cum)
          SELECT $S + (day + 1) * $D1 AS step_ts,
            round(sqrt((c10 * (10 - mean) * (10 - mean)
                      + b1 * (30 - mean) * (30 - mean)
                      + b2 * (75 - mean) * (75 - mean)
                      + b3 * (150 - mean) * (150 - mean)
                      + b4 * (200 - mean) * (200 - mean)) / cc), 6) AS sd_val
          FROM v ORDER BY 1""",

    // delete_series mirror: the SAME daily windowed sums with user 1's
    // purchase rows excluded over the tombstoned span [S, S+5d]
    "q186_delete_series" ->
      s"""WITH ev AS (SELECT event_type, CAST(user_id AS VARCHAR) AS u,
                        epoch_ns(ts)//1000000 AS ts_ms, value FROM events),
          kept AS (SELECT * FROM ev
                   WHERE event_type = 'purchase' AND u IN ('1','2','3')
                     AND NOT (u = '1' AND ts_ms >= $S AND ts_ms <= ${S + 5 * D1})),
          stps AS (SELECT unnest(generate_series(${S + D1},
                     ${TsTables.EventsEndMs}, $D1)) AS step_ts)
          SELECT s.step_ts, k.u AS "user", round(sum(k.value), 6) AS value
          FROM stps s JOIN kept k
            ON k.ts_ms > s.step_ts - $D1 AND k.ts_ms <= s.step_ts
          GROUP BY 1,2 ORDER BY 1,2""",

    // staleness-marker mirror: users 2/3's day-5 sample answers the
    // instant + federate probes (user 1's is cut by the marker although
    // inside the 1d window); user 1's range rows stop at its last live day
    "q189_stale_marker_ingest" ->
      s"""WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS u,
                        (epoch_ns(ts)//1000000 - $S) // $D1 AS day, value
                      FROM events WHERE event_type = 'purchase'),
          daily AS (SELECT u, day, round(sum(value), 6) AS v FROM ev
                    WHERE u IN ('1','2','3') GROUP BY 1, 2),
          last23 AS (SELECT u, day, v,
                       row_number() OVER (PARTITION BY u ORDER BY day DESC) AS rn
                     FROM daily WHERE u <> '1' AND day <= 4)
          SELECT 'instant' AS surface, u AS "user",
                 CAST(0 AS BIGINT) AS ts_ms, v AS value
            FROM last23 WHERE rn = 1
          UNION ALL
          SELECT 'federate', u, $S + (day + 1) * $D1, v
            FROM last23 WHERE rn = 1
          UNION ALL
          SELECT 'range', u, $S + (day + 1) * $D1, v
            FROM daily WHERE u = '1' AND day <= 4
          ORDER BY 1, 2, 3""",

    // NHCB fraction mirror: the q181 rate CTEs + the q72 fraction CASE
    "q190_nhcb_fraction" -> classicHistRateFractionSql,

    // OTLP explicit-bound histograms canonicalize to the SAME NHCB bucket
    // storage the q181 wire lands, so the mirror is identical
    "q191_otlp_ingest" -> classicHistRateQuantileSql,

    // info() mirror: daily sums wearing the constant resource data label
    "q193_otlp_info_join" ->
      s"""WITH ev AS (SELECT (epoch_ns(ts)//1000000 - $S) // $D1 AS day, value
                      FROM events WHERE event_type = 'purchase'),
          daily AS (SELECT day, round(sum(value), 6) AS v FROM ev GROUP BY 1)
          SELECT 'prod' AS env, $S + (day + 1) * $D1 AS step_ts, v AS value
          FROM daily
          WHERE $S + (day + 1) * $D1 BETWEEN ${S + D1} AND ${TsTables.EventsEndMs}
          ORDER BY 2""",

    // delta-ingest mirror: increase() over per-interval delta samples at
    // daily steps recovers exactly the per-day sums, so the mirror is the
    // cumulative daily aggregation computed straight from events — a
    // hash match proves the delta wire, the typed storage, the hwm
    // replay no-op AND the delta rate kernel end to end
    "q194_otlp_delta_ingest" ->
      s"""WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS u,
                        (epoch_ns(ts)//1000000 - $S) // $D1 AS day, value
                      FROM events WHERE event_type = 'purchase'),
          daily AS (SELECT u, day, round(sum(value), 6) AS v FROM ev
                    WHERE u IN ('1','2','3') GROUP BY 1, 2)
          SELECT u AS "user", $S + (day + 1) * $D1 AS step_ts, v AS value
          FROM daily
          WHERE $S + (day + 1) * $D1 BETWEEN ${S + D1} AND ${TsTables.EventsEndMs}
          ORDER BY 2, 1""",

    // restore mirror: identical to the q192 snapshot mirror — the
    // restored copy must answer exactly what the in-place snapshot does
    "q195_snapshot_restore" ->
      s"""WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS u,
                        (epoch_ns(ts)//1000000 - $S) // $D1 AS day, value
                      FROM events WHERE event_type = 'purchase'),
          daily AS (SELECT u, day, round(sum(value), 6) AS v FROM ev
                    WHERE u IN ('1','2','3') GROUP BY 1, 2)
          SELECT u AS "user", $S + (day + 1) * $D1 AS step_ts, v AS value
          FROM daily
          WHERE $S + (day + 1) * $D1 BETWEEN ${S + D1} AND ${TsTables.EventsEndMs}
          ORDER BY 2, 1""",

    // sink-compaction mirror: the full daily per-user sums — identical to
    // what an UNCOMPACTED sink answers, which is the contract (compaction
    // changes file layout, never results)
    "q196_sink_compaction" ->
      s"""WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS u,
                        (epoch_ns(ts)//1000000 - $S) // $D1 AS day, value
                      FROM events WHERE event_type = 'purchase'),
          daily AS (SELECT u, day, round(sum(value), 6) AS v FROM ev
                    WHERE u IN ('1','2','3') GROUP BY 1, 2)
          SELECT u AS "user", $S + (day + 1) * $D1 AS step_ts, v AS value
          FROM daily
          WHERE $S + (day + 1) * $D1 BETWEEN ${S + D1} AND ${TsTables.EventsEndMs}
          ORDER BY 2, 1""",

    // snapshot mirror: the FULL pre-delete daily sums, user 1 included —
    // the live store lost user 1 to the purge (asserted in the fixture),
    // so a match proves the snapshot froze the point-in-time copy
    "q192_snapshot_read" ->
      s"""WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS u,
                        (epoch_ns(ts)//1000000 - $S) // $D1 AS day, value
                      FROM events WHERE event_type = 'purchase'),
          daily AS (SELECT u, day, round(sum(value), 6) AS v FROM ev
                    WHERE u IN ('1','2','3') GROUP BY 1, 2)
          SELECT u AS "user", $S + (day + 1) * $D1 AS step_ts, v AS value
          FROM daily
          WHERE $S + (day + 1) * $D1 BETWEEN ${S + D1} AND ${TsTables.EventsEndMs}
          ORDER BY 2, 1""",

    // federate mirror: newest purchase per user in (E-1d, E]
    "q187_federate" ->
      s"""WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS u,
                        epoch_ns(ts)//1000000 AS ts_ms, value FROM events
                      WHERE event_type = 'purchase'),
          w AS (SELECT * FROM ev
                WHERE ts_ms > ${TsTables.EventsEndMs - TsTables.Day}
                  AND ts_ms <= ${TsTables.EventsEndMs}),
          r AS (SELECT u, ts_ms, value,
                  row_number() OVER (PARTITION BY u ORDER BY ts_ms DESC) AS rn
                FROM w)
          SELECT u AS "user", round(value, 6) AS value, ts_ms
          FROM r WHERE rn = 1 ORDER BY 1""",

    // delta-rate mirror: per-day exp-bucket counts are PER-INTERVAL
    // deltas, so rate = (sum of the window's two samples) / window-sec per
    // le bound, then the q97 interpolation CASE over the rate ladder
    "q148_promql_exp_hist_rate" ->
      s"""WITH ev AS (SELECT (epoch_ns(ts)//1000000 - $S) // $D1 AS day, value
                      FROM events WHERE event_type = 'purchase'),
          daily AS (SELECT day, $expCols FROM ev GROUP BY day),
          stps AS (SELECT unnest(generate_series(${S + 2 * D1}, ${TsTables.EventsEndMs}, $D1)) AS step_ts),
          b AS (SELECT s.step_ts,
                  ${(1 to 9).map(j =>
                    s"(d1.x$j + d2.x$j) / ${2 * D1}.0 * 1000 AS x$j").mkString(", ")}
                FROM stps s
                JOIN daily d1 ON d1.day = (s.step_ts - $S) // $D1 - 2
                JOIN daily d2 ON d2.day = (s.step_ts - $S) // $D1 - 1)
          SELECT step_ts, round($expCase, 6) AS q90 FROM b ORDER BY step_ts""",

    // the remote-write wire path lands the SAME per-interval exp-bucket
    // deltas q148 stores directly (cumulative native histograms minus
    // their predecessors), so the mirror is the identical delta-rate SQL
    "q172_native_hist_remote_write" ->
      s"""WITH ev AS (SELECT (epoch_ns(ts)//1000000 - $S) // $D1 AS day, value
                      FROM events WHERE event_type = 'purchase'),
          daily AS (SELECT day, $expCols FROM ev GROUP BY day),
          stps AS (SELECT unnest(generate_series(${S + 2 * D1}, ${TsTables.EventsEndMs}, $D1)) AS step_ts),
          b AS (SELECT s.step_ts,
                  ${(1 to 9).map(j =>
                    s"(d1.x$j + d2.x$j) / ${2 * D1}.0 * 1000 AS x$j").mkString(", ")}
                FROM stps s
                JOIN daily d1 ON d1.day = (s.step_ts - $S) // $D1 - 2
                JOIN daily d2 ON d2.day = (s.step_ts - $S) // $D1 - 1)
          SELECT step_ts, round($expCase, 6) AS q90 FROM b ORDER BY step_ts""",

    // the engine's first sample deltas from nothing (absolute = day-0
    // daily), later samples subtract their predecessor — so every step's
    // interval sum/count IS that day's daily figure
    "q174_native_hist_avg" ->
      s"""WITH ev AS (SELECT (epoch_ns(ts)//1000000 - $S) // $D1 AS day, value
                      FROM events WHERE event_type = 'purchase'),
          daily AS (SELECT day,
                      sum(CASE WHEN value <= 512.0 THEN value ELSE 0 END) AS sm,
                      sum(CASE WHEN value <= 512.0 THEN 1.0 ELSE 0 END) AS cnt
                    FROM ev GROUP BY day),
          stps AS (SELECT unnest(generate_series(${S + D1}, ${TsTables.EventsEndMs}, $D1)) AS step_ts)
          SELECT s.step_ts, round(d.sm / d.cnt, 6) AS avg_val
          FROM stps s JOIN daily d ON d.day = (s.step_ts - $S) // $D1 - 1
          ORDER BY s.step_ts""",

    // nine geometric midpoints (2^(i+0.5)) emitted as exact double
    // literals so DuckDB and the engine share bit-identical constants
    "q175_native_hist_stddev" -> {
      val buckets = (0 until 9).map { i =>
        val lo = math.pow(2.0, i); val hi = math.pow(2.0, i + 1)
        if (i == 0) s"sum(CASE WHEN value <= $hi THEN 1.0 ELSE 0 END) AS b$i"
        else s"sum(CASE WHEN value > $lo AND value <= $hi THEN 1.0 ELSE 0 END) AS b$i"
      }.mkString(", ")
      val sq = (0 until 9).map { i =>
        val mid = math.pow(2.0, i + 0.5)
        s"d.b$i * ($mid - d.sm / d.cnt) * ($mid - d.sm / d.cnt)"
      }.mkString(" + ")
      s"""WITH ev AS (SELECT (epoch_ns(ts)//1000000 - $S) // $D1 AS day, value
                      FROM events WHERE event_type = 'purchase'),
          daily AS (SELECT day, $buckets,
                      sum(CASE WHEN value <= 512.0 THEN value ELSE 0 END) AS sm,
                      sum(CASE WHEN value <= 512.0 THEN 1.0 ELSE 0 END) AS cnt
                    FROM ev GROUP BY day),
          stps AS (SELECT unnest(generate_series(${S + D1}, ${TsTables.EventsEndMs}, $D1)) AS step_ts)
          SELECT s.step_ts, round(sqrt(($sq) / d.cnt), 6) AS sd_val
          FROM stps s JOIN daily d ON d.day = (s.step_ts - $S) // $D1 - 1
          ORDER BY s.step_ts"""
    },

    // same 2-samples-per-window extrapolated-rate mirror as q106, applied
    // to the cumulative SUM column instead of per-bucket counts
    "q111_promql_hist_col_select" ->
      s"""WITH ev AS (SELECT (epoch_ns(ts)//1000000 - $S) // $D1 AS day, value
                      FROM events WHERE event_type = 'purchase'),
          cum AS (SELECT day, sum(sum(value)) OVER (ORDER BY day) AS c
                  FROM ev GROUP BY day),
          stps AS (SELECT unnest(generate_series(${S + 2 * D1}, ${TsTables.EventsEndMs}, $D1)) AS step_ts),
          pair AS (SELECT s.step_ts, c1.c AS v1, c2.c AS v2
                   FROM stps s
                   JOIN cum c1 ON c1.day = (s.step_ts - $S) // $D1 - 2
                   JOIN cum c2 ON c2.day = (s.step_ts - $S) // $D1 - 1)
          SELECT step_ts,
                 round((v2 - v1) * ((86400.0 +
                     CASE WHEN (v2 - v1) > 0 AND 86400.0 * (v1 / (v2 - v1)) < 86400.0
                          THEN 86400.0 * (v1 / (v2 - v1)) ELSE 86400.0 END) / 86400.0)
                   / ${2 * D1} * 1000, 6) AS rate_sum
          FROM pair ORDER BY step_ts"""
  )

  /** Cumulative counts at the exp-histogram bounds 2^1..2^9 (scale 0,
    * offset 0, sub-2 values clamped into the first bucket — cum at 2^j is
    * simply count(v <= 2^j)). */
  /** Deterministic remote-write fixture shared by q174/q175: daily
    * cumulative native histograms (scale 0, nine buckets to 2^9) WITH the
    * cumulative sum field over the covered population (value <= 512),
    * posted over real HTTP into a fresh sink, then a PromQL Ctx over the
    * sunk rows at daily steps. Built ONCE per (session, sfDir) — Verify
    * iterates an unsorted Map, so entries must not order-depend;
    * whichever of q174/q175 runs first builds, and Bench's repeat passes
    * time the QUERY, not a server re-seed (was 8.7 s/entry). */
  /** Pre-builds every session-cached HTTP/sink fixture in this file so a
    * benchmark's timed passes measure the QUERY against a warm fixture,
    * never the fixture's own construction (r14: q181's cold five-chunk
    * remote-write build — live HTTP server, spool, claim ledger, hwm
    * compaction — was recorded as a 94.8 s single-pass query time under
    * contention). Idempotent: the caches are per-(session, sfDir), so a
    * later Verify/Bench call reuses the same sinks/ports either way. */
  def seedBenchFixtures(s: org.apache.spark.sql.SparkSession,
                        dir: String): Unit = {
    q172SinkCache.computeIfAbsent(dir, _ => buildQ172Sink(s, dir))
    q181SinkCache.computeIfAbsent(dir, _ => buildQ181Sink(s, dir))
    q191SinkCache.computeIfAbsent(dir, _ => buildQ191Sink(s, dir))
    q193SinkCache.computeIfAbsent(dir, _ => buildQ193Sink(s, dir))
    q194SinkCache.computeIfAbsent(dir, _ => buildQ194Sink(s, dir))
    q192SnapCache.computeIfAbsent(dir, _ => buildQ192Snapshot(s, dir))
    q195RestoreCache.computeIfAbsent(dir, _ => buildQ195Restore(s, dir))
    q196SinkCache.computeIfAbsent(dir, _ => buildQ196Sink(s, dir))
    nhSinkCache.computeIfAbsent(dir, _ => buildNativeHistSink(s, dir))
    exemplarFixture(s, dir)
    deleteFixture(s, dir)
    staleFixture(s, dir)
    tsdbFixture(s, dir)
    metadataFixture(s, dir)
  }

  private val nhSinkCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q178's exemplar fixture: a PromApi with an exemplar-carrying write
    * sink, exemplars for a deterministic ~1% sample of purchase events
    * POSTed once (plus a sender-retry replay the content-dedup must
    * no-op), server kept running for the session; returns the port. */
  private val exemplarPortCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private def exemplarFixture(s: org.apache.spark.sql.SparkSession,
                              dir: String): Int =
    exemplarPortCache.computeIfAbsent(dir, _ => {
      import graft.http.{ProtoWire, PromApi, RemoteRead}
      val base = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "q178_ex").toString
      new org.apache.hadoop.fs.Path(base).getFileSystem(
        s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(base), true)
      val exs = TsTables.events(s, dir)
        .filter(col("event_type") === "purchase" && col("event_id") % 7 === 0)
        .select(col("event_id").cast("string"), col("ts_ms"), col("value"))
        .collect()
        .map(r => ProtoWire.PExemplar(
          Seq("trace_id" -> r.getString(0)), r.getDouble(2), r.getLong(1)))
        .sortBy(_.ts).toSeq
      val ws = PromApi.WriteSink(s"$base/sink", s"$base/index", s"$base/reject",
        graft.operators.Quota.QuotaConfig(Seq("metric"), Seq(1000000L)),
        exemplarDir = Some(s"$base/exemplars"))
      val api = new PromApi(s, s.range(0).toDF(), writeSink = Some(ws)).start()
      val url = s"http://localhost:${api.boundPort}"
      val series = Seq(ProtoWire.PSeries(
        Seq("__name__" -> "purchase"), Nil, exemplars = exs))
      RemoteRead.remoteWriteSeries(series, url)
      RemoteRead.remoteWriteSeries(series, url) // retry replay: must no-op
      Integer.valueOf(api.boundPort)
    }).intValue()

  /** q186's fixture: a PromApi over the canonical events samples with the
    * TSDB admin API enabled; one delete_series POST tombstones
    * purchase{user="1"} over the first five days (POSTed twice — the
    * second tombstone is redundant but must stay harmless), server kept
    * for the session; returns the port. */
  private val deletePortCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private def deleteFixture(s: org.apache.spark.sql.SparkSession,
                            dir: String): Int =
    deletePortCache.computeIfAbsent(dir, _ => {
      val adminDir = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "q186_admin").toString
      new org.apache.hadoop.fs.Path(adminDir).getFileSystem(
        s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(adminDir), true)
      val api = new graft.http.PromApi(s, TsTables.eventsAsSamples(s, dir),
        adminDir = Some(adminDir)).start()
      val m = java.net.URLEncoder.encode("""purchase{user="1"}""", "UTF-8")
      val path = s"/api/v1/admin/tsdb/delete_series?match[]=$m" +
        s"&start=${S / 1000}&end=${(S + 5 * D1) / 1000}"
      def post(): Int = {
        val c = new java.net.URI(s"http://localhost:${api.boundPort}$path")
          .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
        c.setRequestMethod("POST")
        try c.getResponseCode finally c.disconnect()
      }
      require(post() == 204 && post() == 204,
        "q186 fixture: delete_series did not answer 204")
      Integer.valueOf(api.boundPort)
    }).intValue()

  /** The q189 marker timestamp: 1h after user 1's last live sample. */
  private val StaleMarkerTs = TsTables.EventsStartMs + 5 * TsTables.Day + 3600000L

  private val stalePortCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** q189's fixture: daily per-user purchase sums remote-written as plain
    * counter-style samples; user 1 stops after day 5 and its sender
    * appends the StaleNaN marker (the wire bits, via PSample.stale). Two
    * chunks + a replay of the marker chunk (hwm must no-op markers like
    * samples). Serves a READ PromApi over the sunk parquet; returns the
    * port. */
  private def staleFixture(s: org.apache.spark.sql.SparkSession,
                           dir: String): Int =
    stalePortCache.computeIfAbsent(dir, _ => {
      import graft.http.{ProtoWire, PromApi, RemoteRead}
      val base = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "q189_stale").toString
      new org.apache.hadoop.fs.Path(base).getFileSystem(
        s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(base), true)
      val daily = TsTables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .withColumn("u", col("user_id").cast("string"))
        .filter(col("u").isin("1", "2", "3"))
        .withColumn("day", ((col("ts_ms") - S) / D1).cast("long"))
        .groupBy(col("u"), col("day")).agg(sum(col("value")).as("v"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      def series(u: String, f: Long => Boolean,
                 extra: Seq[ProtoWire.PSample] = Nil): ProtoWire.PSeries =
        ProtoWire.PSeries(Seq("__name__" -> "purchase", "user" -> u),
          (daily.filter(t => t._1 == u && f(t._2)).sortBy(_._2).toSeq
            .map(t => ProtoWire.PSample(t._3, S + (t._2 + 1) * D1)) ++ extra)
            .sortBy(_.ts))
      // chunk 1: every user's samples through day 5 (day index <= 4), plus
      // user 1's target-down marker; chunk 2: users 2/3 from day 6 on
      val marker = ProtoWire.PSample(0.0, StaleMarkerTs, stale = true)
      val chunk1 = Seq(series("1", _ <= 4, Seq(marker)),
        series("2", _ <= 4), series("3", _ <= 4))
      val chunk2 = Seq(series("2", _ >= 5), series("3", _ >= 5))
      val ws = PromApi.WriteSink(s"$base/sink", s"$base/index", s"$base/reject",
        graft.operators.Quota.QuotaConfig(Seq("metric"), Seq(1000000L)))
      val wapi = new PromApi(s, s.range(0).toDF(), writeSink = Some(ws)).start()
      try {
        val url = s"http://localhost:${wapi.boundPort}"
        RemoteRead.remoteWriteSeries(chunk1, url)
        RemoteRead.remoteWriteSeries(chunk2, url)
        RemoteRead.remoteWriteSeries(chunk1, url) // sender retry: hwm no-ops
      } finally wapi.stop()
      val api = new PromApi(s,
        s.read.option("mergeSchema", "true").parquet(s"$base/sink")).start()
      Integer.valueOf(api.boundPort)
    }).intValue()

  private val q193SinkCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q193's fixture: TWO OTLP exports — the first carries only the first
    * day's gauge point (so its per-resource target_info lands at the
    * earliest step), the second the remaining days — plus a
    * collector-retry replay of the first (hwm must no-op both the sample
    * and the target_info row). Two commits, not one per day: a Bench pass
    * that builds the fixture must stay warm-repeatable (the q172
    * lesson — a 30-commit seed recorded 47 s for a 0.3 s query). */
  private def buildQ193Sink(s: org.apache.spark.sql.SparkSession,
                            dir: String): String = {
    import graft.http.{OtlpWire, PromApi}
    val base = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), "q193_info").toString
    new org.apache.hadoop.fs.Path(base).getFileSystem(
      s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(base), true)
    val daily = TsTables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("day", ((col("ts_ms") - S) / D1).cast("long"))
      .groupBy(col("day")).agg(sum(col("value")).as("v"))
      .orderBy(col("day"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val res = Seq("service.name" -> "shop", "service.instance.id" -> "i-1",
      "deployment.environment" -> "prod")
    val ws = PromApi.WriteSink(s"$base/sink", s"$base/index", s"$base/reject",
      graft.operators.Quota.QuotaConfig(Seq("metric"), Seq(1000000L)))
    val api = new PromApi(s, s.range(0).toDF(), writeSink = Some(ws),
      hwmCompactEvery = 8).start()
    try {
      val url = s"http://localhost:${api.boundPort}/api/v1/otlp/v1/metrics"
      def post(days: Seq[(Long, Double)]): Unit = {
        val body = OtlpWire.encodeExportRequest(res, Seq(
          OtlpWire.EncMetric("purchase", kind = "gauge",
            points = days.map { case (d, v) =>
              (Seq.empty[(String, String)], S + (d + 1) * D1, v, 0) })))
        val resp = java.net.http.HttpClient.newHttpClient().send(
          java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
            .header("Content-Type", "application/x-protobuf")
            .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(body))
            .build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        require(resp.statusCode() == 200,
          s"q193 OTLP POST failed: HTTP ${resp.statusCode()} ${resp.body()}")
      }
      post(daily.take(1).toSeq)
      post(daily.drop(1).toSeq)
      post(daily.take(1).toSeq) // collector retry: hwm no-ops
    } finally api.stop()
    s"$base/sink"
  }

  private val q194SinkCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q194's fixture: daily per-user purchase sums POSTed as OTLP DELTA
    * monotonic-sum exports (temporality=1) to a server started with
    * `otlpAcceptDelta = true` — two exports (first day, rest) plus a
    * collector-retry replay of the first that the high-water marks must
    * no-op (a re-admitted delta double-counts; cumulative ingest never
    * has that failure mode, so this replay IS the delta contract). */
  private def buildQ194Sink(s: org.apache.spark.sql.SparkSession,
                            dir: String): String = {
    import graft.http.{OtlpWire, PromApi}
    val base = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), "q194_delta").toString
    new org.apache.hadoop.fs.Path(base).getFileSystem(
      s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(base), true)
    val daily = TsTables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("u", col("user_id").cast("string"))
      .filter(col("u").isin("1", "2", "3"))
      .withColumn("day", ((col("ts_ms") - S) / D1).cast("long"))
      .groupBy(col("u"), col("day")).agg(sum(col("value")).as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._2, t._1))
    val ws = PromApi.WriteSink(s"$base/sink", s"$base/index", s"$base/reject",
      graft.operators.Quota.QuotaConfig(Seq("metric"), Seq(1000000L)))
    val api = new PromApi(s, s.range(0).toDF(), writeSink = Some(ws),
      hwmCompactEvery = 8, otlpAcceptDelta = true).start()
    try {
      val url = s"http://localhost:${api.boundPort}/api/v1/otlp/v1/metrics"
      def post(rows: Seq[(String, Long, Double)]): Unit = {
        val body = OtlpWire.encodeExportRequest(Nil, Seq(
          OtlpWire.EncMetric("purchase", kind = "sum", monotonic = true,
            temporality = 1,
            points = rows.map { case (u, d, v) =>
              (Seq("user" -> u), S + (d + 1) * D1, v, 0) })))
        val resp = java.net.http.HttpClient.newHttpClient().send(
          java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
            .header("Content-Type", "application/x-protobuf")
            .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(body))
            .build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        require(resp.statusCode() == 200,
          s"q194 OTLP delta POST failed: HTTP ${resp.statusCode()} ${resp.body()}")
      }
      val (first, rest) = daily.partition(_._2 == daily.head._2)
      post(first.toSeq)
      post(rest.toSeq)
      post(first.toSeq) // collector retry: hwm must no-op (else double-count)
    } finally api.stop()
    s"$base/sink"
  }

  private val q196SinkCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q196's fixture: daily per-user purchase sums drained through a
    * spool-mode server at ONE file per micro-batch (each POST becomes its
    * own `batch_id=` dir — the small-file layout a real drain cadence
    * accumulates), then folded by [[graft.streaming.Ingest.compactSink]].
    * Asserts the dir-count collapse, the `_COMPACTED` marker, and that a
    * post-compaction duplicate re-POST still drops at the hwm. */
  private def buildQ196Sink(s: org.apache.spark.sql.SparkSession,
                            dir: String): String = {
    import graft.http.{ProtoWire, PromApi, RemoteRead}
    val base = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), "q196_compact").toString
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(
      s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val daily = TsTables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("u", col("user_id").cast("string"))
      .filter(col("u").isin("1", "2", "3"))
      .withColumn("day", ((col("ts_ms") - S) / D1).cast("long"))
      .groupBy(col("u"), col("day")).agg(sum(col("value")).as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._2, t._1))
    // six day-range chunks -> six POSTs -> six single-file drain commits
    val dayMax = daily.map(_._2).max
    val chunks = daily.groupBy(t => math.min(5L, t._2 * 6 / (dayMax + 1)))
      .toSeq.sortBy(_._1).map(_._2)
    def toSeries(rows: Array[(String, Long, Double)]): Seq[ProtoWire.PSeries] =
      rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (u, rs) =>
        ProtoWire.PSeries(Seq("__name__" -> "purchase", "user" -> u),
          rs.sortBy(_._2).map(t => ProtoWire.PSample(t._3, S + (t._2 + 1) * D1)).toSeq)
      }
    val ws = PromApi.WriteSink(s"$base/sink", s"$base/index", s"$base/reject",
      graft.operators.Quota.QuotaConfig(Seq("metric"), Seq(1000000L)))
    val api = new PromApi(s, s.range(0).toDF(), writeSink = Some(ws),
      spoolDrainMs = 3600000L, spoolDrainMaxFiles = 1, hwmCompactEvery = 0).start()
    try {
      val url = s"http://localhost:${api.boundPort}"
      chunks.foreach(c => RemoteRead.remoteWriteSeries(toSeries(c), url))
      api.drainSpool()
      val sinkRoot = new org.apache.hadoop.fs.Path(s"$base/sink")
      def dirs = fs.listStatus(sinkRoot).map(_.getPath.getName)
        .filter(_.startsWith("batch_id=")).sorted.toSeq
      val before = dirs
      require(before.length == chunks.length,
        s"q196 fixture: expected ${chunks.length} batch dirs, got $before")
      val rowsBefore = s.read.parquet(s"$base/sink").count()
      val folded = graft.streaming.Ingest.compactSink(s, s"$base/sink",
        keepBatches = 1, minBatches = 4)
      require(folded.exists(_._1 == before.length - 1),
        s"q196 fixture: compactSink folded $folded, expected ${before.length - 1} dirs")
      require(dirs.length == 2,
        s"q196 fixture: expected 2 batch dirs after compaction, got $dirs")
      require(fs.exists(new org.apache.hadoop.fs.Path(
          s"$base/sink/batch_id=${before(before.length - 2).stripPrefix("batch_id=")}/_COMPACTED")),
        "q196 fixture: consolidated dir missing its _COMPACTED marker")
      // the fold never touches the index: a duplicate re-POST of the first
      // chunk must still drop at the persisted high-water marks
      RemoteRead.remoteWriteSeries(toSeries(chunks.head), url)
      api.drainSpool()
      require(s.read.parquet(s"$base/sink").count() == rowsBefore,
        "q196 fixture: a post-compaction duplicate re-POST changed the row count")
    } finally api.stop()
    s"$base/sink"
  }

  private val q195RestoreCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q195's fixture: restore the q192 snapshot's sink into a fresh
    * directory (the CLI `--restore` path: manifest check + hardlink-back). */
  private def buildQ195Restore(s: org.apache.spark.sql.SparkSession,
                               dir: String): String = {
    val snapSink = q192SnapCache.computeIfAbsent(dir, _ => buildQ192Snapshot(s, dir))
    val sinkPath = new org.apache.hadoop.fs.Path(snapSink) // .../snapshots/<id>/sink
    val id = sinkPath.getParent.getName
    val snapRoot = sinkPath.getParent.getParent.toString
    val dest = new org.apache.hadoop.fs.Path(
      sinkPath.getParent.getParent.getParent, "q195_restored_sink").toString
    new org.apache.hadoop.fs.Path(dest).getFileSystem(
      s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(dest), true)
    graft.operators.Snapshots.restore(s, snapRoot, id, Seq("sink" -> dest))
    dest
  }

  private val q192SnapCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q192's fixture: remote-write the daily per-user purchase sums, POST
    * `/api/v1/admin/tsdb/snapshot`, then delete_series + clean_tombstones
    * user 1 from the LIVE store; returns the snapshot's sink directory.
    * The live store provably lost the rows (asserted here) — the oracle
    * then proves the snapshot kept them. */
  private def buildQ192Snapshot(s: org.apache.spark.sql.SparkSession,
                                dir: String): String = {
    import graft.http.{ProtoWire, PromApi, RemoteRead}
    val base = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), "q192_snap").toString
    new org.apache.hadoop.fs.Path(base).getFileSystem(
      s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(base), true)
    val daily = TsTables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("u", col("user_id").cast("string"))
      .filter(col("u").isin("1", "2", "3"))
      .withColumn("day", ((col("ts_ms") - S) / D1).cast("long"))
      .groupBy(col("u"), col("day")).agg(sum(col("value")).as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val series = daily.groupBy(_._1).toSeq.map { case (u, rows) =>
      ProtoWire.PSeries(Seq("__name__" -> "purchase", "user" -> u),
        rows.sortBy(_._2).map(t =>
          ProtoWire.PSample(t._3, S + (t._2 + 1) * D1)).toSeq)
    }
    val ws = PromApi.WriteSink(s"$base/sink", s"$base/index", s"$base/reject",
      graft.operators.Quota.QuotaConfig(Seq("metric"), Seq(1000000L)))
    val api = new PromApi(s, s.range(0).toDF(),
      writeSink = Some(ws), adminDir = Some(s"$base/admin")).start()
    try {
      val url = s"http://localhost:${api.boundPort}"
      RemoteRead.remoteWriteSeries(series, url)
      def post(path: String): (Int, String) = {
        val c = new java.net.URI(s"$url$path").toURL.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        c.setRequestMethod("POST")
        try {
          val code = c.getResponseCode
          val in = if (code < 400) c.getInputStream else c.getErrorStream
          (code, if (in == null) "" else new String(in.readAllBytes(), "UTF-8"))
        } finally c.disconnect()
      }
      val (sc, sb) = post("/api/v1/admin/tsdb/snapshot")
      require(sc == 200, s"q192 snapshot failed: HTTP $sc $sb")
      val name = """"name":"([^"]+)"""".r.findFirstMatchIn(sb).get.group(1)
      val m = java.net.URLEncoder.encode("""purchase{user="1"}""", "UTF-8")
      require(post(s"/api/v1/admin/tsdb/delete_series?match[]=$m")._1 == 204,
        "q192 delete_series failed")
      require(post("/api/v1/admin/tsdb/clean_tombstones")._1 == 204,
        "q192 clean_tombstones failed")
      require(s.read.option("mergeSchema", "true").parquet(s"$base/sink")
        .filter(col("tags")("user") === "1").isEmpty,
        "q192 fixture: the live store still holds user 1 after the purge")
      s"$base/snapshots/$name/sink"
    } finally api.stop()
  }

  /** q180's fixture: a PromApi over the canonical events samples WITH a
    * series index — the intended deployment shape for the status
    * endpoints (tsdbStatus ranks from the one-row-per-series index, not a
    * full samples scan; the r12 artifact benched the index-less fallback
    * at 2.58 s). The index is built once per (session, sfDir) and
    * persisted to the warehouse so repeat bench passes time the
    * index-routed endpoint, not the index build. */
  private val tsdbPortCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private def tsdbFixture(s: org.apache.spark.sql.SparkSession,
                          dir: String): Int =
    tsdbPortCache.computeIfAbsent(dir, _ => {
      val samples = TsTables.eventsAsSamples(s, dir)
      val idxDir = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "q180_idx").toString
      new org.apache.hadoop.fs.Path(idxDir).getFileSystem(
        s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(idxDir), true)
      graft.operators.MetadataOps.buildSeriesIndex(
          samples.withColumn("series_id",
            graft.model.SeriesKey.id(col("metric"), col("tags"))))
        .write.mode("overwrite").parquet(idxDir)
      val api = new graft.http.PromApi(s, samples,
        seriesIndex = Some(s.read.parquet(idxDir))).start()
      Integer.valueOf(api.boundPort)
    }).intValue()

  /** q179's metadata fixture: TYPE+HELP exposition lines per event type
    * upserted through the gateway parser, then a TYPE-only re-upsert
    * (the field-wise merge must keep the stored HELP); serves
    * /api/v1/metadata for the session; returns the port. */
  private val metadataPortCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private def metadataFixture(s: org.apache.spark.sql.SparkSession,
                              dir: String): Int =
    metadataPortCache.computeIfAbsent(dir, _ => {
      import graft.http.PromApi
      import s.implicits._
      val base = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "q179_meta").toString
      new org.apache.hadoop.fs.Path(base).getFileSystem(
        s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(base), true)
      val types = TsTables.events(s, dir)
        .select(col("event_type")).distinct().collect()
        .map(_.getString(0)).sorted.toSeq
      val payload = types.map(t =>
        s"# TYPE $t counter\n# HELP $t Series for $t.").mkString("\n")
      graft.streaming.Ingest.upsertMetricMeta(s, base,
        graft.streaming.Gateway.promTextMeta(Seq(payload).toDF("body")))
      val typeOnly = types.map(t => s"# TYPE $t counter").mkString("\n")
      graft.streaming.Ingest.upsertMetricMeta(s, base,
        graft.streaming.Gateway.promTextMeta(Seq(typeOnly).toDF("body")))
      val api = new PromApi(s, s.range(0).toDF(), metadataDir = Some(base)).start()
      Integer.valueOf(api.boundPort)
    }).intValue()

  /** q172's remote-write fixture, built ONCE per (session, sfDir) like the
    * q174/q175 one: cumulative daily native histograms (no sum field)
    * POSTed in four chunks plus a sender-retry replay of chunk 2 — the
    * replay is part of the fixture's contract (the persisted high-water
    * marks must no-op it, which the row-count-stable oracle pins). */
  private val q172SinkCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def buildQ172Sink(s: org.apache.spark.sql.SparkSession,
                            dir: String): String = {
    import graft.http.{ProtoWire, PromApi, RemoteRead}
    val base = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), "q172_rw").toString
    new org.apache.hadoop.fs.Path(base).getFileSystem(
      s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(base), true)
    val ev = TsTables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("day", ((col("ts_ms") - S) / D1).cast("long"))
    val daily = ev.groupBy(col("day"))
      .agg(array((0 until 9).map { i =>
        val lo = math.pow(2.0, i)
        val hi = math.pow(2.0, i + 1)
        if (i == 0) sum(when(col("value") <= hi, 1.0).otherwise(0.0))
        else sum(when(col("value") > lo && col("value") <= hi, 1.0).otherwise(0.0))
      }: _*).as("daily"))
      .orderBy(col("day"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    // cumulative over days — the counter a Prometheus exposes
    val cum = daily.scanLeft((-1L, Seq.fill(9)(0.0))) { case ((_, acc), (d, row)) =>
      (d, acc.lazyZip(row).map(_ + _))
    }.drop(1)
    // native-histogram wire form: scale 0, positive buckets at prom
    // index 1..9 (upper bounds 2^1..2^9 — the engine stores them at
    // exp offsets 0..8), integer span/delta encoding on the wire
    val hists = cum.map { case (d, counts) =>
      ProtoWire.PHistogram(ts = S + (d + 1) * D1, schema = 0,
        zeroThreshold = 0.0, zeroCount = 0.0, count = counts.sum,
        sum = 0.0, resetHint = 0, posOffset = 1, posCounts = counts,
        negOffset = 0, negCounts = Nil)
    }.toSeq
    val ws = PromApi.WriteSink(s"$base/sink", s"$base/index", s"$base/reject",
      graft.operators.Quota.QuotaConfig(Seq("metric"), Seq(1000000L)))
    val api = new PromApi(s, s.range(0).toDF(), writeSink = Some(ws),
      hwmCompactEvery = 2).start()
    try {
      val url = s"http://localhost:${api.boundPort}"
      def post(hs: Seq[ProtoWire.PHistogram]): Unit =
        RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
          Seq("__name__" -> "purchase"), Nil, histograms = hs)), url)
      val chunks = hists.grouped(math.max(1, hists.size / 4 + 1)).toSeq
      chunks.foreach(post)
      post(chunks(1)) // sender retry: every sample sits at/below its hwm
    } finally api.stop()
    s"$base/sink"
  }

  /** q181's NHCB fixture, built ONCE per (session, sfDir) like q172's:
    * cumulative daily custom-bucket (schema −53) native histograms over
    * the purchase values, POSTed in chunks alternating the v1 and v2
    * remote-write wires (both must land identically), plus a sender-retry
    * replay of one chunk that the persisted high-water marks must no-op. */
  private val q181SinkCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def buildQ181Sink(s: org.apache.spark.sql.SparkSession,
                            dir: String): String = {
    import graft.http.{ProtoWire, PromApi, RemoteRead}
    val base = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), "q181_nhcb").toString
    new org.apache.hadoop.fs.Path(base).getFileSystem(
      s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(base), true)
    val bounds = Seq(10.0, 50.0, 100.0, 200.0)
    val ev = TsTables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("day", ((col("ts_ms") - S) / D1).cast("long"))
    // per-day PER-BUCKET counts indexing the bounds list, bucket k =
    // (bounds(k-1), bounds(k)], plus the (200, +Inf] overflow at index 4
    val daily = ev.groupBy(col("day"))
      .agg(array((0 to bounds.length).map { k =>
        val hiOk =
          if (k == bounds.length) lit(true) else col("value") <= bounds(k)
        val loOk = if (k == 0) lit(true) else col("value") > bounds(k - 1)
        sum(when(hiOk && loOk, 1.0).otherwise(0.0))
      }: _*).as("daily"),
        sum(col("value")).as("dsm")) // every value is bucketed (+Inf overflow)
      .orderBy(col("day"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
    val cum = daily.scanLeft((-1L, Seq.fill(bounds.length + 1)(0.0), 0.0)) {
      case ((_, acc, accS), (d, row, sm)) =>
        (d, acc.lazyZip(row).map(_ + _), accS + sm)
    }.drop(1)
    val hists = cum.map { case (d, counts, sm) =>
      ProtoWire.PHistogram(ts = S + (d + 1) * D1, schema = -53,
        zeroThreshold = 0.0, zeroCount = 0.0, count = counts.sum,
        sum = sm, resetHint = 0, posOffset = 0, posCounts = counts,
        negOffset = 0, negCounts = Nil, customValues = bounds)
    }.toSeq
    val ws = PromApi.WriteSink(s"$base/sink", s"$base/index", s"$base/reject",
      graft.operators.Quota.QuotaConfig(Seq("metric"), Seq(1000000L)))
    val api = new PromApi(s, s.range(0).toDF(), writeSink = Some(ws),
      hwmCompactEvery = 2).start()
    try {
      val url = s"http://localhost:${api.boundPort}"
      def series(hs: Seq[ProtoWire.PHistogram]) = Seq(ProtoWire.PSeries(
        Seq("__name__" -> "purchase"), Nil, histograms = hs))
      def postV2(hs: Seq[ProtoWire.PHistogram]): Unit = {
        val resp = java.net.http.HttpClient.newHttpClient().send(
          java.net.http.HttpRequest.newBuilder(
              java.net.URI.create(s"$url/api/v1/write"))
            .header("Content-Type",
              "application/x-protobuf;proto=io.prometheus.write.v2.Request")
            .header("Content-Encoding", "snappy")
            .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(
              org.xerial.snappy.Snappy.compress(
                ProtoWire.encodeWriteRequestV2(series(hs))))).build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        require(resp.statusCode() / 100 == 2,
          s"NHCB v2 POST failed: HTTP ${resp.statusCode()} ${resp.body()}")
      }
      val chunks = hists.grouped(math.max(1, hists.size / 4 + 1)).toSeq
      chunks.zipWithIndex.foreach { case (hs, i) =>
        if (i % 2 == 0) RemoteRead.remoteWriteSeries(series(hs), url)
        else postV2(hs)
      }
      RemoteRead.remoteWriteSeries(series(chunks(1)), url) // sender retry
    } finally api.stop()
    s"$base/sink"
  }

  /** q191's fixture: the q181 daily cumulative custom-bucket counts
    * POSTed as OTLP explicit-bound histogram exports (gzip'd protobuf) to
    * `/api/v1/otlp/v1/metrics` — two chunks plus a collector-retry replay
    * of the first (the persisted high-water marks must no-op it). */
  private val q191SinkCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def buildQ191Sink(s: org.apache.spark.sql.SparkSession,
                            dir: String): String = {
    import graft.http.{OtlpWire, PromApi}
    val base = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), "q191_otlp").toString
    new org.apache.hadoop.fs.Path(base).getFileSystem(
      s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(base), true)
    val bounds = Seq(10.0, 50.0, 100.0, 200.0)
    val ev = TsTables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("day", ((col("ts_ms") - S) / D1).cast("long"))
    val daily = ev.groupBy(col("day"))
      .agg(array((0 to bounds.length).map { k =>
        val hiOk =
          if (k == bounds.length) lit(true) else col("value") <= bounds(k)
        val loOk = if (k == 0) lit(true) else col("value") > bounds(k - 1)
        sum(when(hiOk && loOk, 1.0).otherwise(0.0))
      }: _*).as("daily"),
        sum(col("value")).as("dsm"))
      .orderBy(col("day"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
    val cum = daily.scanLeft((-1L, Seq.fill(bounds.length + 1)(0.0), 0.0)) {
      case ((_, acc, accS), (d, row, sm)) =>
        (d, acc.lazyZip(row).map(_ + _), accS + sm)
    }.drop(1)
    // OTLP HistogramDataPoints: per-bucket counts indexing bounds (+ the
    // (200, +Inf] overflow slot), CUMULATIVE temporality over days
    val points = cum.map { case (d, counts, sm) =>
      (Seq.empty[(String, String)], S + (d + 1) * D1, counts.sum, sm,
        bounds, counts)
    }.toSeq
    val ws = PromApi.WriteSink(s"$base/sink", s"$base/index", s"$base/reject",
      graft.operators.Quota.QuotaConfig(Seq("metric"), Seq(1000000L)))
    val api = new PromApi(s, s.range(0).toDF(), writeSink = Some(ws),
      hwmCompactEvery = 2).start()
    try {
      val url = s"http://localhost:${api.boundPort}/api/v1/otlp/v1/metrics"
      def post(pts: Seq[(Seq[(String, String)], Long, Double, Double, Seq[Double], Seq[Double])]): Unit = {
        val body = OtlpWire.encodeExportRequest(Nil, Seq(
          OtlpWire.EncMetric("purchase", kind = "histogram", temporality = 2,
            histPoints = pts)))
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(body); gz.close()
        val resp = java.net.http.HttpClient.newHttpClient().send(
          java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
            .header("Content-Type", "application/x-protobuf")
            .header("Content-Encoding", "gzip")
            .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(
              bos.toByteArray)).build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        require(resp.statusCode() == 200,
          s"OTLP POST failed: HTTP ${resp.statusCode()} ${resp.body()}")
      }
      val chunks = points.grouped(math.max(1, points.size / 2 + 1)).toSeq
      chunks.foreach(post)
      post(chunks.head) // collector retry: hwm must no-op every sample
    } finally api.stop()
    s"$base/sink"
  }

  private def sumCarryingNativeHistCtx(s: org.apache.spark.sql.SparkSession,
                                       dir: String): PromPlanner.Ctx = {
    val sink = nhSinkCache.computeIfAbsent(dir, _ => buildNativeHistSink(s, dir))
    val sunk = s.read.option("mergeSchema", "true").parquet(sink)
    PromPlanner.Ctx(s, sunk, S + D1, TsTables.EventsEndMs, D1, lookbackMs = D1)
  }

  private def buildNativeHistSink(s: org.apache.spark.sql.SparkSession,
                                  dir: String): String = {
    import graft.http.{ProtoWire, PromApi, RemoteRead}
    val base = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), "qnh_rw").toString
    new org.apache.hadoop.fs.Path(base).getFileSystem(
      s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(base), true)
    val ev = TsTables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("day", ((col("ts_ms") - S) / D1).cast("long"))
    // covered population = values landing in the nine buckets (<= 2^9);
    // sum/count mirror exactly that population so avg/stddev check out
    val daily = ev.groupBy(col("day"))
      .agg(array((0 until 9).map { i =>
        val lo = math.pow(2.0, i)
        val hi = math.pow(2.0, i + 1)
        if (i == 0) sum(when(col("value") <= hi, 1.0).otherwise(0.0))
        else sum(when(col("value") > lo && col("value") <= hi, 1.0).otherwise(0.0))
      }: _*).as("daily"),
        sum(when(col("value") <= 512.0, col("value")).otherwise(0.0)).as("dsm"))
      .orderBy(col("day"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
    val cum = daily.scanLeft((-1L, Seq.fill(9)(0.0), 0.0)) {
      case ((_, acc, accS), (d, row, sm)) =>
        (d, acc.lazyZip(row).map(_ + _), accS + sm)
    }.drop(1)
    val hists = cum.map { case (d, counts, sm) =>
      ProtoWire.PHistogram(ts = S + (d + 1) * D1, schema = 0,
        zeroThreshold = 0.0, zeroCount = 0.0, count = counts.sum,
        sum = sm, resetHint = 0, posOffset = 1, posCounts = counts,
        negOffset = 0, negCounts = Nil)
    }.toSeq
    val ws = PromApi.WriteSink(s"$base/sink", s"$base/index", s"$base/reject",
      graft.operators.Quota.QuotaConfig(Seq("metric"), Seq(1000000L)))
    val api = new PromApi(s, s.range(0).toDF(), writeSink = Some(ws),
      hwmCompactEvery = 2).start()
    try {
      val url = s"http://localhost:${api.boundPort}"
      hists.grouped(math.max(1, hists.size / 3 + 1)).foreach { hs =>
        RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
          Seq("__name__" -> "purchase"), Nil, histograms = hs)), url)
      }
    } finally api.stop()
    s"$base/sink"
  }

  /** Shared q106/q181 mirror: extrapolated counter rate per le bound over
    * classic cumulative bucket storage (bounds 10/50/100/200/+Inf), then
    * the monotonicity-repaired 0.9-quantile interpolation ladder. Mirrors
    * RangeFns.extrapolated exactly for the 2-samples-per-window layout
    * (samples 1d apart, window 2d): sampledInterval = start gap = 86400 s,
    * end gap = 0, n = 2 — the only conditional left is the counter
    * zero-point clamp. */
  private def classicHistRateQuantileSql: String =
    s"""$classicHistRateLadderSql
        SELECT step_ts, round(CASE
            WHEN c10 >= 0.9*ctot THEN 0.0 + (10.0 - 0.0) * (0.9*ctot - 0.0) / (c10 - 0.0)
            WHEN c50 >= 0.9*ctot THEN 10.0 + (50.0 - 10.0) * (0.9*ctot - c10) / (c50 - c10)
            WHEN c100 >= 0.9*ctot THEN 50.0 + (100.0 - 50.0) * (0.9*ctot - c50) / (c100 - c50)
            WHEN c200 >= 0.9*ctot THEN 100.0 + (200.0 - 100.0) * (0.9*ctot - c100) / (c200 - c100)
            ELSE 200.0 END, 6) AS q90
        FROM b ORDER BY step_ts"""

  /** histogram_fraction(25, 150, …) over the same repaired rate ladder:
    * interpolated CDF at 150 minus CDF at 25, over the +Inf total — the
    * q72 fraction CASE applied to rate values. */
  private def classicHistRateFractionSql: String =
    s"""$classicHistRateLadderSql
        SELECT step_ts,
          round(((c100 + (c200 - c100) * (150.0 - 100.0) / (200.0 - 100.0))
               - (c10 + (c50 - c10) * (25.0 - 10.0) / (50.0 - 10.0))) / ctot, 6) AS frac
        FROM b ORDER BY step_ts"""

  /** The shared CTE chain of the classic-bucket RATE mirrors: per-day
    * cumulative bucket counts -> extrapolated per-bucket rates ->
    * monotonicity repair -> one (c10..c200, ctot) row per step. */
  private def classicHistRateLadderSql: String =
    s"""WITH ev AS (SELECT (epoch_ns(ts)//1000000 - $S) // $D1 AS day, value
                    FROM events WHERE event_type = 'purchase'),
        bnds(pos, le) AS (VALUES (0, 10.0), (1, 50.0), (2, 100.0), (3, 200.0),
                                 (4, 'infinity'::DOUBLE)),
        daily AS (SELECT b.pos, e.day,
                    sum(CASE WHEN e.value <= b.le THEN 1.0 ELSE 0 END) AS cnt
                  FROM ev e CROSS JOIN bnds b GROUP BY 1, 2),
        cum AS (SELECT pos, day, sum(cnt) OVER (PARTITION BY pos ORDER BY day) AS c
                FROM daily),
        stps AS (SELECT unnest(generate_series(${S + 2 * D1}, ${TsTables.EventsEndMs}, $D1)) AS step_ts),
        pair AS (SELECT s.step_ts, c2.pos, c1.c AS v1, c2.c AS v2
                 FROM stps s
                 JOIN cum c1 ON c1.day = (s.step_ts - $S) // $D1 - 2
                 JOIN cum c2 ON c2.day = (s.step_ts - $S) // $D1 - 1 AND c2.pos = c1.pos),
        rates AS (SELECT step_ts, pos,
                    (v2 - v1) * ((86400.0 +
                      CASE WHEN (v2 - v1) > 0 AND 86400.0 * (v1 / (v2 - v1)) < 86400.0
                           THEN 86400.0 * (v1 / (v2 - v1)) ELSE 86400.0 END) / 86400.0)
                      / ${2 * D1} * 1000 AS r
                  FROM pair),
        rep AS (SELECT step_ts, pos,
                  max(r) OVER (PARTITION BY step_ts ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS r
                FROM rates),
        b AS (SELECT step_ts,
                max(CASE WHEN pos = 0 THEN r END) AS c10,
                max(CASE WHEN pos = 1 THEN r END) AS c50,
                max(CASE WHEN pos = 2 THEN r END) AS c100,
                max(CASE WHEN pos = 3 THEN r END) AS c200,
                max(CASE WHEN pos = 4 THEN r END) AS ctot
              FROM rep GROUP BY 1)"""

  private def expCols: String =
    (1 to 9).map(j => s"sum(CASE WHEN value <= ${1L << j}.0 THEN 1.0 ELSE 0 END) AS x$j")
      .mkString(", ")

  /** Prometheus bucket interpolation over those nine bounds (x9 = total). */
  private def expCase: String = {
    val branches = (1 to 9).map { j =>
      val b = (1L << j).toDouble
      val lo = if (j == 1) 0.0 else (1L << (j - 1)).toDouble
      val cp = if (j == 1) "0.0" else s"x${j - 1}"
      s"WHEN x$j >= 0.9*x9 THEN $lo + ($b - $lo) * (0.9*x9 - $cp) / (x$j - $cp)"
    }.mkString(" ")
    s"CASE $branches ELSE 512.0 END"
  }
}
