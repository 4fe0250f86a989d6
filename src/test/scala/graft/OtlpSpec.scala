package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.http.{OtlpWire, PromApi, ProtoWire, RemoteRead}
import graft.operators.Quota
import graft.promql.PromPlanner

/** `/api/v1/otlp/v1/metrics` — the OTLP metrics export wire: hand-rolled
  * codec against the public opentelemetry-proto schema, the documented
  * Prometheus translation (name/unit/type suffixes, resource promotion,
  * target_info), temporality rules, NO_RECORDED_VALUE staleness, and the
  * HTTP endpoint sharing the remote-write commit chain. */
class OtlpSpec extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = GraftSession.builder("local[4]", "4").getOrCreate()

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val cfg = Quota.QuotaConfig(Seq("metric"), Seq(1000000L))

  private val res = Seq("service.name" -> "shop", "service.instance.id" -> "i-1",
    "deployment.environment" -> "prod")

  test("decode + translate: gauges and cumulative sums map to job/instance-" +
       "labeled series with unit and _total suffixes; sanitized attrs; " +
       "target_info carries the remaining resource attributes") {
    val body = OtlpWire.encodeExportRequest(res, Seq(
      OtlpWire.EncMetric("http.server.duration", unit = "s",
        description = "request time",
        points = Seq((Seq("http.method" -> "GET"), 10000L, 0.25, 0))),
      OtlpWire.EncMetric("requests", kind = "sum", monotonic = true,
        temporality = 2,
        points = Seq((Nil, 10000L, 42.0, 0)))))
    val (series, metas) = OtlpWire.decodeExportRequest(body)
    val byName = series.map(s =>
      s.labels.collectFirst { case ("__name__", v) => v }.get -> s).toMap
    byName.keySet shouldEqual
      Set("http_server_duration_seconds", "requests_total", "target_info")
    val g = byName("http_server_duration_seconds")
    g.labels.toMap should contain allOf (
      "job" -> "shop", "instance" -> "i-1", "http_method" -> "GET")
    g.samples shouldEqual Seq(ProtoWire.PSample(0.25, 10000L))
    byName("requests_total").samples.head.value shouldEqual 42.0
    val ti = byName("target_info")
    ti.labels.toMap should contain ("deployment_environment" -> "prod")
    ti.labels.toMap.keySet should not contain "service_name"
    ti.samples shouldEqual Seq(ProtoWire.PSample(1.0, 10000L))
    metas.map(m => m.metric -> m.typ).toMap shouldEqual Map(
      "http_server_duration_seconds" -> "gauge", "requests_total" -> "counter")
  }

  test("delta sums and delta explicit-bound histograms answer 400-shaped " +
       "rejections (upstream without delta conversion); delta EXPONENTIAL " +
       "histograms are the storage temporality and store as-is") {
    an[IllegalArgumentException] should be thrownBy OtlpWire.decodeExportRequest(
      OtlpWire.encodeExportRequest(res, Seq(OtlpWire.EncMetric("d",
        kind = "sum", monotonic = true, temporality = 1,
        points = Seq((Nil, 1000L, 1.0, 0))))))
    an[IllegalArgumentException] should be thrownBy OtlpWire.decodeExportRequest(
      OtlpWire.encodeExportRequest(res, Seq(OtlpWire.EncMetric("h",
        kind = "histogram", temporality = 1,
        histPoints = Seq((Nil, 1000L, 3.0, 6.0, Seq(1.0, 2.0), Seq(1.0, 1.0, 1.0)))))))
    // delta exp histogram: GAUGE reset hint routes around the conversion
    val (series, _) = OtlpWire.decodeExportRequest(
      OtlpWire.encodeExportRequest(res, Seq(OtlpWire.EncMetric("eh",
        kind = "exponential_histogram", temporality = 1,
        expPoints = Seq((Nil, 1000L, 0, 1.0, 9.0, 0, Seq(2.0, 3.0)))))))
    val h = series.head.histograms.head
    h.resetHint shouldEqual 3
    h.schema shouldEqual 0
    // OTel bucket i covers (2^i, 2^(i+1)]; prompb posOffset carries +1 so
    // the shared commit path's -1 lands exp_offset back on the OTel index
    h.posOffset shouldEqual 1
    h.posCounts shouldEqual Seq(2.0, 3.0)
    h.zeroCount shouldEqual 1.0
  }

  test("explicit-bound histograms become NHCB-style bucket storage; " +
       "summaries expand to _sum/_count/quantile series; NO_RECORDED_VALUE " +
       "datapoints are staleness markers") {
    val (series, _) = OtlpWire.decodeExportRequest(
      OtlpWire.encodeExportRequest(res, Seq(
        OtlpWire.EncMetric("lat", unit = "s", kind = "histogram", temporality = 2,
          histPoints = Seq((Nil, 2000L, 6.0, 9.0, Seq(0.1, 0.5), Seq(1.0, 2.0, 3.0)))),
        OtlpWire.EncMetric("rt", kind = "summary",
          summaryPoints = Seq((Nil, 2000L, 10.0, 99.0, Seq(0.5 -> 1.5, 0.99 -> 7.0)))),
        OtlpWire.EncMetric("dead", kind = "gauge",
          points = Seq((Nil, 3000L, 0.0, 1)))))) // flags bit 0 = no recorded value
    val byName = series.groupBy(_.labels.collectFirst {
      case ("__name__", v) => v }.get)
    val hist = byName("lat_seconds").head.histograms.head
    hist.schema shouldEqual -53
    hist.customValues shouldEqual Seq(0.1, 0.5)
    hist.posCounts shouldEqual Seq(1.0, 2.0, 3.0)
    hist.count shouldEqual 6.0
    hist.sum shouldEqual 9.0
    byName("rt_sum").head.samples.head.value shouldEqual 99.0
    byName("rt_count").head.samples.head.value shouldEqual 10.0
    val qs = byName("rt").map(s => s.labels.toMap.apply("quantile") ->
      s.samples.head.value).toMap
    qs shouldEqual Map("0.5" -> 1.5, "0.99" -> 7.0)
    val dead = byName("dead").head.samples.head
    dead.stale shouldEqual true
    dead.value.isNaN shouldEqual true
  }

  test("HTTP endpoint end to end (gzip): gauge + NHCB histogram + marker " +
       "commit through the remote-write chain and answer PromQL; delta sums " +
       "answer 400; wrong content type answers 415") {
    val dir = tmp("graft-otlp")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg,
      exemplarDir = Some(s"$dir/ex"))
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
      metadataDir = Some(s"$dir/meta")).start()
    try {
      val url = s"http://localhost:${api.boundPort}/api/v1/otlp/v1/metrics"
      val client = HttpClient.newHttpClient()
      def post(body: Array[Byte], gzip: Boolean = false,
               ctype: String = "application/x-protobuf"): Int = {
        val payload = if (!gzip) body else {
          val bos = new java.io.ByteArrayOutputStream()
          val gz = new java.util.zip.GZIPOutputStream(bos)
          gz.write(body); gz.close(); bos.toByteArray
        }
        val b = HttpRequest.newBuilder(URI.create(url))
          .header("Content-Type", ctype)
          .POST(HttpRequest.BodyPublishers.ofByteArray(payload))
        if (gzip) b.header("Content-Encoding", "gzip")
        client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray()).statusCode()
      }
      val ok = OtlpWire.encodeExportRequest(res, Seq(
        OtlpWire.EncMetric("cpu", kind = "gauge",
          points = Seq(
            (Seq("core" -> "0"), 10000L, 1.5, 0),
            (Seq("core" -> "0"), 20000L, 2.5, 0),
            (Seq("core" -> "1"), 20000L, 7.0, 0))),
        OtlpWire.EncMetric("lat", unit = "s", kind = "histogram", temporality = 2,
          histPoints = Seq((Nil, 20000L, 6.0, 9.0, Seq(0.1, 0.5), Seq(1.0, 2.0, 3.0))))))
      post(ok, gzip = true) shouldEqual 200
      // the dead-core marker arrives in a second export
      post(OtlpWire.encodeExportRequest(res, Seq(
        OtlpWire.EncMetric("cpu", kind = "gauge",
          points = Seq((Seq("core" -> "1"), 30000L, 0.0, 1)))))) shouldEqual 200
      post(OtlpWire.encodeExportRequest(res, Seq(OtlpWire.EncMetric("d",
        kind = "sum", monotonic = true, temporality = 1,
        points = Seq((Nil, 1000L, 1.0, 0)))))) shouldEqual 400
      post(ok, ctype = "application/json") shouldEqual 415
      val sunk = spark.read.option("mergeSchema", "true").parquet(s"$dir/sink")
      def instant(q: String, at: Long): Map[String, Double] =
        PromPlanner.queryRange(
          PromPlanner.Ctx(spark, sunk, at, at, 1000L, lookbackMs = 25000L), q)
          .select(col("labels")("core"), col("value")).collect()
          .map(r => r.getString(0) -> r.getDouble(1)).toMap
      // the marker cut: core=1 is absent at 35s though its 20s sample is
      // inside the lookback; core=0 answers
      instant("cpu", 35000L) shouldEqual Map("0" -> 2.5)
      instant("cpu", 25000L) shouldEqual Map("0" -> 2.5, "1" -> 7.0)
      // the NHCB histogram answers histogram_quantile from a PromQL string
      val q50 = PromPlanner.queryRange(
        PromPlanner.Ctx(spark, sunk, 20000L, 20000L, 1000L),
        "histogram_quantile(0.5, lat_seconds)").select("value").head().getDouble(0)
      q50 shouldEqual 0.5 +- 1e-9 // rank 3 of 6 -> upper edge of bucket 2
      // metadata upserted from the OTLP descriptor
      val meta = graft.streaming.Ingest.readMetricMeta(spark, s"$dir/meta").get
      meta.filter(col("metric") === "lat_seconds").select("type")
        .head().getString(0) shouldEqual "histogram"
    } finally api.stop()
  }

  test("job promotion: service.namespace folds into job as namespace/name " +
       "and is consumed from target_info; datapoint attributes cannot " +
       "respoof job/instance/__name__") {
    val nsRes = Seq("service.namespace" -> "team1", "service.name" -> "shop",
      "service.instance.id" -> "i-1", "zone" -> "z1")
    val (series, _) = OtlpWire.decodeExportRequest(
      OtlpWire.encodeExportRequest(nsRes, Seq(
        OtlpWire.EncMetric("cpu", kind = "gauge",
          points = Seq((Seq("job" -> "evil", "instance" -> "evil",
            "__name__" -> "evil", "core" -> "0"), 10000L, 1.5, 0))))))
    val byName = series.map(s =>
      s.labels.collectFirst { case ("__name__", v) => v }.get -> s).toMap
    byName.keySet shouldEqual Set("cpu", "target_info")
    val g = byName("cpu").labels.toMap
    g("job") shouldEqual "team1/shop"
    g("instance") shouldEqual "i-1"
    g("core") shouldEqual "0"
    val ti = byName("target_info").labels.toMap
    ti("job") shouldEqual "team1/shop"
    ti should contain ("zone" -> "z1")
    ti.keySet should not contain "service_namespace"
  }

  test("delta opt-in (otlp-deltatocumulative analogue): delta sums land as " +
       "series_type=delta per-interval counters — increase() sums them, an " +
       "instant read answers the latest interval — and delta explicit-bound " +
       "histograms as prom_histogram_delta whose bucket series rate with " +
       "the delta kernel; default stays 400") {
    // decode-level: the flag flips rejection into typed series
    val deltaSum = OtlpWire.encodeExportRequest(res, Seq(OtlpWire.EncMetric(
      "req", kind = "sum", monotonic = true, temporality = 1,
      points = Seq((Nil, 10000L, 5.0, 0), (Nil, 20000L, 3.0, 0),
        (Nil, 30000L, 4.0, 0)))))
    an[IllegalArgumentException] should be thrownBy
      OtlpWire.decodeExportRequest(deltaSum)
    val (ds, dmetas) = OtlpWire.decodeExportRequest(deltaSum, acceptDelta = true)
    val reqS = ds.find(_.labels.toMap.apply("__name__") == "req_total").get
    reqS.seriesType shouldEqual "delta"
    dmetas.find(_.metric == "req_total").get.typ shouldEqual "counter"
    val deltaHist = OtlpWire.encodeExportRequest(res, Seq(OtlpWire.EncMetric(
      "lat", unit = "s", kind = "histogram", temporality = 1,
      histPoints = Seq(
        (Nil, 10000L, 3.0, 1.2, Seq(0.1, 0.5), Seq(1.0, 1.0, 1.0)),
        (Nil, 20000L, 6.0, 2.4, Seq(0.1, 0.5), Seq(1.0, 2.0, 3.0))))))
    val (hs, _) = OtlpWire.decodeExportRequest(deltaHist, acceptDelta = true)
    hs.find(_.histograms.nonEmpty).get.seriesType shouldEqual
      "prom_histogram_delta"

    // end to end: a flag-enabled server commits both and PromQL answers
    val dir = tmp("graft-otlp-delta")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg)
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
      otlpAcceptDelta = true).start()
    try {
      val url = s"http://localhost:${api.boundPort}/api/v1/otlp/v1/metrics"
      def post(body: Array[Byte]): Int =
        HttpClient.newHttpClient().send(
          HttpRequest.newBuilder(URI.create(url))
            .header("Content-Type", "application/x-protobuf")
            .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
          HttpResponse.BodyHandlers.ofByteArray()).statusCode()
      post(deltaSum) shouldEqual 200
      post(deltaHist) shouldEqual 200
      val sunk = spark.read.option("mergeSchema", "true").parquet(s"$dir/sink")
      sunk.filter(col("metric") === "req_total")
        .select("series_type").distinct().collect()
        .map(_.getString(0)).toSeq shouldEqual Seq("delta")
      sunk.filter(col("metric") === "lat_seconds" && col("le").isNotNull)
        .select("series_type").distinct().collect()
        .map(_.getString(0)).toSeq shouldEqual Seq("prom_histogram_delta")
      def one(q: String, at: Long): Double =
        PromPlanner.queryRange(
          PromPlanner.Ctx(spark, sunk, at, at, 1000L, lookbackMs = 25000L), q)
          .select("value").head().getDouble(0)
      // increase over delta = plain sum of the interval samples in window
      one("increase(req_total[25s])", 30000L) shouldEqual 12.0 +- 1e-9
      // instant read of a delta counter answers the latest interval value
      one("req_total", 30000L) shouldEqual 4.0 +- 1e-9
      // delta NHCB buckets rate with the delta kernel: over (10s, 30s] the
      // le=0.5 bucket series sums 2+5=7 of 20 s -> 0.35/s; q50 of the rate
      // distribution interpolates inside (0.1, 0.5]
      val q50 = one("histogram_quantile(0.5, rate(lat_seconds[20s]))", 30000L)
      // per-interval counts: bucket1 (<=0.1) 1+1=2, bucket2 (<=0.5) 2+5=7,
      // +Inf 3+9... cumulative-across-le sums: rank 0.5*total
      q50 should be > 0.1
      q50 should be <= 0.5
    } finally api.stop()
  }

  test("OTLP exemplars land in the side table with trace_id/span_id hex " +
       "labels and answer /api/v1/query_exemplars") {
    val dir = tmp("graft-otlp-ex")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg,
      exemplarDir = Some(s"$dir/ex"))
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws)).start()
    try {
      // encode an exemplar by hand on a gauge datapoint (the EncMetric
      // helper doesn't carry exemplars — wire bytes spliced directly)
      import graft.http.ProtoWire.Writer
      def kv(w: Writer, field: Int, k: String, v: String): Unit = {
        val kw = new Writer; kw.string(1, k)
        val av = new Writer; av.string(1, v); kw.message(2, av)
        w.message(field, kw)
      }
      val pw = new Writer
      pw.doubleBits(3, 10000L * 1000000L) // time_unix_nano
      pw.double(4, 2.5)
      val ew = new Writer
      kv(ew, 7, "path", "/checkout")
      ew.doubleBits(2, 9000L * 1000000L)
      ew.double(3, 1.25)
      ew.bytes(5, Array[Byte](0x0a, 0x0b)) // trace_id -> "0a0b"
      ew.bytes(4, Array[Byte](0x01)) // span_id -> "01"
      pw.message(5, ew)
      val gw = new Writer; gw.message(1, pw)
      val mw = new Writer
      mw.string(1, "checkout_latency"); mw.message(5, gw)
      val sm = new Writer; sm.message(2, mw)
      val rm = new Writer; rm.message(2, sm)
      val root = new Writer; root.message(1, rm)
      val resp = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:${api.boundPort}/api/v1/otlp/v1/metrics"))
          .header("Content-Type", "application/x-protobuf")
          .POST(HttpRequest.BodyPublishers.ofByteArray(root.toBytes)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      resp.statusCode() shouldEqual 200
      val ex = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:${api.boundPort}/api/v1/query_exemplars" +
            "?query=checkout_latency&start=0&end=100")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      ex should include(""""trace_id":"0a0b"""")
      ex should include(""""span_id":"01"""")
      ex should include(""""path":"/checkout"""")
      ex should include(""""value":"1.25"""")
    } finally api.stop()
  }

  private def postOtlp(baseUrl: String, body: Array[Byte]): Int =
    HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"$baseUrl/api/v1/otlp/v1/metrics"))
        .header("Content-Type", "application/x-protobuf")
        .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.ofByteArray()).statusCode()

  test("spool mode spools OTLP too: a remote-write POST and an OTLP export " +
       "both land after one drain (the export waits in _spool as .otlp and " +
       "counts in /__health), a delta sum still answers 400 at POST time, " +
       "and no _claims dir is minted") {
    val dir = tmp("graft-otlp-spool")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg)
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
      metadataDir = Some(s"$dir/meta"), spoolDrainMs = 3600000L).start()
    try {
      val base = s"http://localhost:${api.boundPort}"
      RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
        Seq("__name__" -> "rw_metric"), Seq(ProtoWire.PSample(1.0, 1000L)))), base)
      // no resource attributes beyond job/instance: no target_info series
      val job = Seq("service.name" -> "shop")
      postOtlp(base, OtlpWire.encodeExportRequest(job, Seq(OtlpWire.EncMetric(
        "cpu", kind = "gauge", points = Seq((Nil, 1000L, 0.5, 0)))))) shouldEqual 200
      postOtlp(base, OtlpWire.encodeExportRequest(job, Seq(OtlpWire.EncMetric(
        "d", kind = "sum", monotonic = true, temporality = 1,
        points = Seq((Nil, 1000L, 1.0, 0)))))) shouldEqual 400
      val fs = new org.apache.hadoop.fs.Path(s"$dir/sink")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/sink/_spool"))
        .map(_.getPath.getName).toSet shouldEqual Set("0.wr", "1.otlp")
      val health = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"$base/__health")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      health should include(""""spool":{"depth":2""")
      api.drainSpool() shouldEqual 2
      spark.read.parquet(s"$dir/sink").select("metric").distinct()
        .collect().map(_.getString(0)).toSet shouldEqual Set("rw_metric", "cpu")
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/sink/_claims")) shouldBe false
      graft.streaming.Ingest.readMetricMeta(spark, s"$dir/meta").get
        .filter(col("metric") === "cpu").select("type")
        .head().getString(0) shouldEqual "gauge"
    } finally api.stop()
  }
}
