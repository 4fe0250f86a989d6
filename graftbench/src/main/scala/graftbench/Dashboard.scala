package graftbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.promql.{Parser, PromPlanner}

/** The Grafana-style dashboard every read workload refreshes. */
object Dashboard {
  val Sel = """_ws_="demo",_ns_="App-2""""
  val Panels: IndexedSeq[String] = IndexedSeq(
    s"heap_usage0{$Sel}",
    s"sum(rate(heap_usage0{$Sel}[5m]))",
    s"quantile(0.75, heap_usage0{$Sel})",
    s"sum_over_time(heap_usage0{$Sel}[5m])",
    s"sum by (job) (rate(http_requests_total{$Sel}[5m])) / on (job) sum by (job) (heap_usage0{$Sel})",
    s"histogram_quantile(0.9, sum by (le) (rate(http_request_duration_seconds_bucket{$Sel}[5m])))",
    s"max_over_time(rate(http_requests_total{$Sel}[5m])[30m:1m])",
    s"topk(5, avg_over_time(heap_usage0{$Sel}[10m]))")
  val LabelMatch = s"heap_usage0{$Sel}"
  val RangeMs: Long = 55 * 60000L
  val StepMs: Long = 150000L
  val LookbackMs: Long = 300000L

  /** Does a generated series match the panels' selector labels? */
  def matches(tags: Map[String, String]): Boolean =
    tags.get("_ws_").contains("demo") && tags.get("_ns_").contains("App-2")

  def rangePath(q: String, startMs: Long, endMs: Long): String =
    s"/api/v1/query_range?query=${URLEncoder.encode(q, UTF_8)}" +
      s"&start=${secs(startMs)}&end=${secs(endMs)}&step=${StepMs / 1000}"

  val labelValuesPath: String =
    s"/api/v1/label/instance/values?match[]=${URLEncoder.encode(LabelMatch, UTF_8)}"

  private def secs(ms: Long): String = java.math.BigDecimal.valueOf(ms, 3).stripTrailingZeros().toPlainString
}

/** One persistent HTTP/1.1 client, shared by all load threads. */
final class Http(base: String) {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  def get(path: String): (Int, Array[Byte]) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(base + path)).GET()
      .timeout(Duration.ofSeconds(120)).build(), HttpResponse.BodyHandlers.ofByteArray())
    (r.statusCode(), r.body())
  }

  /** A Prometheus remote-write v1 POST of a snappy-compressed payload. */
  def write(body: Array[Byte]): Int =
    client.send(HttpRequest.newBuilder(URI.create(base + "/api/v1/write"))
      .header("Content-Type", "application/x-protobuf")
      .header("Content-Encoding", "snappy")
      .header("X-Prometheus-Remote-Write-Version", "0.1.0")
      .timeout(Duration.ofSeconds(120))
      .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.discarding()).statusCode()
}

/** In-process calls into each layer a panel query crosses, timed one at a
  * time. Each call runs under its own job group so the [[JobTracer]] can
  * attribute its Spark jobs. */
final class LayerProbe(spark: SparkSession, tracer: JobTracer) {
  private val seq = new java.util.concurrent.atomic.AtomicLong

  /** Parse, plan, optimize and execute one query, timing each phase. */
  def query(ctx: PromPlanner.Ctx, q: String): Phases = {
    val group = s"probe-${seq.incrementAndGet()}"
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, false)
    try {
      val t0 = System.nanoTime()
      val ast = PromPlanner.resolveStepDurations(Parser.parse(q), ctx.stepMs)
      val t1 = System.nanoTime()
      val df = PromPlanner.planVector(ctx, ast)
      val t2 = System.nanoTime()
      df.queryExecution.executedPlan
      val t3 = System.nanoTime()
      val m0 = System.currentTimeMillis()
      val rows = df.collect()
      val t4 = System.nanoTime()
      val m1 = System.currentTimeMillis()
      Phases(group, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, (t4 - t3) / 1e9,
        m0, m1, PlanWalk(df.queryExecution.executedPlan), rows.length.toLong)
    } finally sc.clearJobGroup()
  }

  /** Per-query Spark figures for probes already run (call after
    * `tracer.settle()`), averaged over `ps`. */
  def sparkFigures(ps: Seq[Phases]): Map[String, Double] = {
    def avg(f: Phases => Double): Double = Stats.mean(ps.map(f))
    def tot(p: Phases) = tracer.totalsOf(p.group)
    Map(
      "spark.optimize_s" -> avg(_.optimizeS),
      "spark.execute_s" -> avg(_.executeS),
      "spark.jobs" -> avg(p => tracer.jobsOf(p.group).size.toDouble),
      "spark.stages" -> avg(p => tot(p).stages.get.toDouble),
      "spark.tasks" -> avg(p => tot(p).tasks.get.toDouble),
      "spark.exchanges" -> avg(_.scan.exchanges.toDouble),
      "spark.driver_gap_s" -> avg(p => ((p.execToMs - p.execFromMs) -
        tracer.coveredMs(tracer.jobsOf(p.group), p.execFromMs, p.execToMs)) / 1000.0),
      "spark.task_run_s" -> avg(p => tot(p).runMs.get / 1000.0),
      "spark.task_cpu_s" -> avg(p => tot(p).cpuNs.get / 1e9),
      "spark.task_gc_s" -> avg(p => tot(p).gcMs.get / 1000.0),
      "spark.shuffle_write_bytes" -> avg(p => tot(p).shuffleWrite.get.toDouble),
      "spark.shuffle_read_bytes" -> avg(p => tot(p).shuffleRead.get.toDouble),
      "spark.shuffle_fetch_wait_s" -> avg(p => tot(p).fetchWaitMs.get / 1000.0),
      "spark.spill_bytes" -> avg(p => tot(p).spill.get.toDouble),
      "promql.parse_s" -> avg(_.parseS),
      "promql.plan_s" -> avg(_.planS),
      "model.scan_rows" -> avg(_.scan.rows.toDouble),
      "model.scan_rows_per_result_sample" ->
        ps.map(_.scan.rows).sum.toDouble / math.max(1L, ps.map(_.resultSamples).sum))
  }

  private def timed(f: => Any): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def medianOf(reps: Int)(f: => Double): Double = Stats.median((1 to reps).map(_ => f))

  /** Selector-only scan and series-key build over `samples` for the gauge
    * selector, and the window kernel, its groupByKey twin and the
    * cross-series sum over the counter selector, each consuming its full
    * output. Returns layer figures (median of `reps` runs each). */
  def layers(samples: DataFrame, startMs: Long, endMs: Long, reps: Int): Map[String, Double] = {
    import graft.operators.{PeriodicSamples, RangeFns, SeriesAggs}
    def selector(metric: String) = samples.filter(col("metric") === metric &&
      col("tags").getItem("_ws_") === "demo" && col("tags").getItem("_ns_") === "App-2" &&
      col("ts") > startMs - Dashboard.LookbackMs && col("ts") <= endMs)
    val gauge = selector(Gen.Gauge)
    val labels = map_concat(map(lit("__name__"), col("metric")), col("tags"))
    def scanOnce() = timed(gauge.agg(sum(col("value")), max(col("tags").getItem("instance"))).collect())
    def keyOnce() = timed(gauge.agg(sum(col("value")),
      sum(xxhash64(PromPlanner.seriesKey(labels)))).collect())
    scanOnce(); keyOnce() // warm
    val scanS = medianOf(reps)(scanOnce())
    val keyS = medianOf(reps)(keyOnce())

    // the pre-keyed kernel input, cached outside the timing
    val keyed = selector(Gen.Counter).select(array_sort(map_entries(labels)).as("__ke"),
      col("ts"), col("value"), lit(0L).as("__tie")).cache()
    keyed.count()
    val rate = RangeFns.byName("rate")
    def viaAgg() = PeriodicSamples.viaAggregate(keyed, Seq("__ke"), "ts", "value",
      startMs, endMs, Dashboard.StepMs, 300000L, rate, tieCol = Some("__tie"))
    def viaGroup() = PeriodicSamples.apply(keyed, Seq("__ke"), "ts", "value",
      startMs, endMs, Dashboard.StepMs, 300000L, rate, tieCol = Some("__tie"))
    def consume(df: DataFrame) = df.agg(sum(col("value")), count(lit(1)), sum(col("step_ts"))).collect()
    consume(viaAgg()); consume(viaGroup())
    val kernelS = medianOf(reps)(timed(consume(viaAgg())))
    val groupS = medianOf(reps)(timed(consume(viaGroup())))
    val out = viaAgg().cache()
    val shape = out.agg(countDistinct(col("__ke")), countDistinct(col("step_ts"))).collect().head
    def aggOnce() = timed(SeriesAggs.aggregate(out, "sum", Nil).collect())
    aggOnce()
    val aggS = medianOf(reps)(aggOnce())
    out.unpersist()
    keyed.unpersist()
    Map(
      "model.scan_s" -> scanS,
      "promql.series_key_s" -> math.max(0.0, keyS - scanS),
      "operators.window_kernel_s" -> kernelS,
      "operators.window_kernel_groupbykey_s" -> groupS,
      "operators.aggregate_s" -> aggS,
      "operators.result_series" -> shape.getLong(0).toDouble,
      "operators.result_steps" -> shape.getLong(1).toDouble)
  }
}

/** The timed phases of one in-process query. */
final case class Phases(group: String, parseS: Double, planS: Double, optimizeS: Double,
                        executeS: Double, execFromMs: Long, execToMs: Long,
                        scan: PlanWalk.Scan, resultSamples: Long) {
  def totalS: Double = parseS + planS + optimizeS + executeS
}
