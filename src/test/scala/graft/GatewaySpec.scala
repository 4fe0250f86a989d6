package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.streaming.Gateway

class GatewaySpec extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = GraftSession.builder("local[4]", "4").getOrCreate()
  import spark.implicits._

  val T = 1465839830100400200L // reference-format ns timestamp
  val TMs = 1465839830100L     // ns → ms drops the last 6 digits

  private def decode(lines: String*) =
    Gateway.influxDecode(lines.toDF("line"), defaultTsMs = 777L).collect()

  test("single-field line → one gauge sample; ns timestamp truncates to ms") {
    val r = decode(s"weather,location=us-midwest temperature=82 $T")
    r.length shouldEqual 1
    r.head.err shouldEqual null
    r.head.metric shouldEqual "weather"
    r.head.tags shouldEqual Map("location" -> "us-midwest")
    r.head.ts shouldEqual TMs
    r.head.value shouldEqual 82.0
    r.head.kind shouldEqual "gauge"
  }

  test("escapes: \\, \\space \\= pass through verbatim (reference parseInner)") {
    val r = decode("""weather,loc\,a=us\ mid,k\=1=v temp\ f=82 """ + T)
    r.length shouldEqual 1
    r.head.tags shouldEqual Map("loc,a" -> "us mid", "k=1" -> "v")
    r.head.metric shouldEqual "weather"
  }

  test("integer suffix and missing timestamp (defaultTsMs, deterministic)") {
    val r = decode("cpu value=42i")
    r.head.value shouldEqual 42.0
    r.head.ts shouldEqual 777L
  }

  test("counter field key selects the counter schema (InfluxPromSingleRecord)") {
    decode(s"requests counter=5 $T").head.kind shouldEqual "counter"
    decode(s"requests total=5 $T").head.kind shouldEqual "gauge"
  }

  test("multi-field → histogram rows: le buckets, +Inf from count, _sum/_count") {
    val r = decode(s"lat,host=a 0.025=1,0.05=3,sum=1.2,count=5 $T")
    val byMetric = r.groupBy(_.metric)
    byMetric("lat_bucket").map(d => d.tags("le") -> d.value).toSet shouldEqual
      Set("0.025" -> 1.0, "0.05" -> 3.0, "+Inf" -> 5.0)
    byMetric("lat_sum").head.value shouldEqual 1.2
    byMetric("lat_count").head.value shouldEqual 5.0
    all(r.map(_.ts)) shouldEqual TMs
    all(r.map(_.tags("host"))) shouldEqual "a"
  }

  test("multi-field non-bucket extras become prom-style <m>_<field> gauges") {
    val r = decode(s"sys used=1,free=2 $T")
    r.map(d => d.metric -> d.value).toSet shouldEqual
      Set("sys_used" -> 1.0, "sys_free" -> 2.0)
  }

  test("rejects carry the line and a reason; good lines unaffected") {
    val r = decode(
      "m f=\"hello\"",        // string-only fields
      "m,broken f=1",          // malformed tag (no =)
      "m f=1 12ab",            // malformed timestamp
      ",t=1 f=1",              // empty measurement
      "justname",              // no fields
      s"ok v=1 $T")
    val errs = r.filter(_.err != null).map(d => d.line -> d.err).toMap
    errs("m f=\"hello\"") shouldEqual "no numeric fields"
    errs("m,broken f=1") shouldEqual "malformed tag"
    errs("m f=1 12ab") shouldEqual "malformed timestamp"
    errs(",t=1 f=1") shouldEqual "empty measurement"
    errs("justname") shouldEqual "no fields"
    r.filter(_.err == null).map(_.metric).toSeq shouldEqual Seq("ok")
  }

  test("reject stats aggregate the parse-error counter by reason") {
    val st = Gateway.influxRejectStats(
        Seq("bad", "worse", s"ok v=1 $T").toDF("line"), 0L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    st shouldEqual Map("no fields" -> 2L)
  }

  test("prom text exposition: TYPE binds kinds, escapes, NaN/Inf, optional ms timestamps") {
    val payload =
      """# HELP http_requests_total The total number of HTTP requests.
        |# TYPE http_requests_total counter
        |http_requests_total{method="post",code="200"} 1027 1395066363000
        |http_requests_total{method="post",code="400"} 3 1395066363000
        |
        |msdos_file_access_time_seconds{path="C:\\DIR\\FILE.TXT",error="Cannot find file:\n\"FILE.TXT\""} 1.458255915e9
        |metric_without_timestamp_and_labels 12.47
        |something_weird{problem="division by zero"} +Inf -3982045
        |# TYPE http_request_duration_seconds histogram
        |http_request_duration_seconds_bucket{le="0.05"} 24054
        |http_request_duration_seconds_bucket{le="+Inf"} 144320
        |http_request_duration_seconds_sum 53423
        |http_request_duration_seconds_count 144320
        |""".stripMargin
    val r = Gateway.parsePromText(payload, defaultTsMs = 99L)
    r.filter(_.err != null) shouldBe empty
    val byMetric = r.groupBy(_.metric)
    val reqs = byMetric("http_requests_total")
    reqs.map(_.kind).distinct shouldEqual Seq("counter")
    reqs.find(_.tags("code") == "200").get.value shouldEqual 1027.0
    reqs.head.ts shouldEqual 1395066363000L // already ms in this format
    val msdos = byMetric("msdos_file_access_time_seconds").head
    msdos.tags("path") shouldEqual "C:\\DIR\\FILE.TXT"
    msdos.tags("error") shouldEqual "Cannot find file:\n\"FILE.TXT\""
    msdos.value shouldEqual 1.458255915e9
    byMetric("metric_without_timestamp_and_labels").head.ts shouldEqual 99L
    byMetric("something_weird").head.value.isPosInfinity shouldBe true
    byMetric("something_weird").head.ts shouldEqual -3982045L
    // histogram family kind rides through the suffixed series
    byMetric("http_request_duration_seconds_bucket").map(_.kind).distinct shouldEqual Seq("histogram")
    byMetric("http_request_duration_seconds_sum").head.kind shouldEqual "histogram"
    byMetric("http_request_duration_seconds_count").head.value shouldEqual 144320.0
  }

  test("prom text exposition: OpenMetrics exemplar suffixes strip off sample lines") {
    val r = Gateway.parsePromText(
      "lat_bucket{le=\"0.1\"} 7 # {trace_id=\"abc\"} 0.09 1520879607\n" +
        "weird{note=\"a # b\"} 3 1000", 0L)
    r.filter(_.err != null) shouldBe empty
    r.find(_.metric == "lat_bucket").get.value shouldEqual 7.0
    // a '#' INSIDE a quoted label value is data, not an exemplar
    r.find(_.metric == "weird").get.tags("note") shouldEqual "a # b"
    r.find(_.metric == "weird").get.ts shouldEqual 1000L
  }

  test("prom text exposition: malformed lines reject individually, payload continues") {
    val r = Gateway.parsePromText(
      "ok_metric 1\n{no=\"name\"} 2\nbad value\nm 1 99999999999999999999999\nok2 3", 0L)
    val good = r.filter(_.err == null).map(_.metric)
    good shouldEqual Seq("ok_metric", "ok2")
    r.filter(_.err != null).map(_.err) shouldEqual
      Seq("malformed line", "malformed value", "malformed timestamp")
    // influx side: an overflowing ns timestamp rejects instead of crashing
    Gateway.parseInflux("m f=1 99999999999999999999999999", 0L)
      .head.err shouldEqual "malformed timestamp"
  }

  test("prom text streaming decode matches batch; samples land in canonical shape") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[String]
    val q = Gateway.promTextSamples(ms.toDF.toDF("body"), defaultTsMs = 7L)
      .writeStream.format("memory").queryName("promtext_out")
      .outputMode("append").start()
    try {
      ms.addData("# TYPE cpu gauge\ncpu{core=\"0\"} 0.5 1000\ncpu{core=\"1\"} 0.75 1000")
      q.processAllAvailable()
      val got = spark.table("promtext_out")
        .select("metric", "ts", "value", "kind").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSet
      got shouldEqual Set(("cpu", 1000L, 0.5, "gauge"), ("cpu", 1000L, 0.75, "gauge"))
    } finally q.stop()
  }

  test("scrape-stream staleness synthesis: a series missing from the next " +
       "scrape markers at that scrape's ts; a VANISHED target's series " +
       "marker at lastTs + staleAfter when the event-time watermark passes " +
       "its timer") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Gateway.ScrapeRow]
    val q = Gateway.scrapeStaleMarkers(ms.toDS(), staleAfterMs = 15000L)
      .writeStream.format("memory").queryName("scrape_stale")
      .outputMode("append").start()
    try {
      def row(t: String, sid: Long, user: String, ts: Long) =
        Gateway.ScrapeRow(t, sid, "m", Map("user" -> user), ts, 1.0)
      ms.addData(row("t1", 1, "a", 10000L), row("t1", 2, "b", 10000L),
        row("t2", 3, "c", 10000L))
      q.processAllAvailable()
      spark.table("scrape_stale").count() shouldEqual 0 // first scrapes: no prior
      // t1's next scrape misses series b -> marker stamped at THAT scrape
      ms.addData(row("t1", 1, "a", 20000L), row("t2", 3, "c", 20000L))
      q.processAllAvailable()
      // t2 keeps scraping; t1 never answers again. The 40000 batch lifts
      // the watermark past t1's 35000 timer; the NEXT batch fires it.
      ms.addData(row("t2", 3, "c", 40000L))
      q.processAllAvailable()
      ms.addData(row("t2", 3, "c", 50000L))
      q.processAllAvailable()
      val got = spark.table("scrape_stale")
        .select("series_id", "ts", "__stale").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      got shouldEqual Set((2L, 20000L, true), (1L, 35000L, true))
      spark.table("scrape_stale").select("value").collect()
        .foreach(_.getDouble(0).isNaN shouldEqual true)
      // tags survive into the canonical marker shape
      spark.table("scrape_stale").filter(col("series_id") === 2L)
        .select(col("tags")("user")).head().getString(0) shouldEqual "b"
    } finally q.stop()
  }

  test("a LATE-ONLY micro-batch re-arms the vanish timer: Spark cancels an " +
       "unset timeout on every invocation, so without the re-arm one late " +
       "batch would permanently disarm the target's staleness synthesis") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Gateway.ScrapeRow]
    val q = Gateway.scrapeStaleMarkers(ms.toDS(), staleAfterMs = 15000L)
      .writeStream.format("memory").queryName("scrape_latearm")
      .outputMode("append").start()
    try {
      def row(t: String, sid: Long, ts: Long) =
        Gateway.ScrapeRow(t, sid, "m", Map.empty, ts, 1.0)
      ms.addData(row("t1", 1, 10000L), row("t2", 9, 10000L))
      q.processAllAvailable()
      // a LATE-ONLY batch for t1 (at its remembered high-water mark):
      // state must stay untouched AND the 25000 timer must survive the
      // invocation (r16 advisor finding — the bare Iterator.empty return
      // left GroupState with no timeout set, disarming it)
      ms.addData(row("t1", 1, 10000L))
      q.processAllAvailable()
      spark.table("scrape_latearm").count() shouldEqual 0
      // t1 never scrapes again; t2 lifts the event-time watermark past
      // t1's 25000 timer, and the batch after that fires it
      ms.addData(row("t2", 9, 40000L))
      q.processAllAvailable()
      ms.addData(row("t2", 9, 50000L))
      q.processAllAvailable()
      spark.table("scrape_latearm").select("series_id", "ts").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet shouldEqual
        Set((1L, 25000L))
    } finally q.stop()
  }

  test("wire lines → quota ingest → PromQL: the full gateway-to-query chain") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.Ingest
    import graft.streaming.Ingest.Sample
    import spark.implicits._
    val ms = MemoryStream[String]
    // gateway decode normalized to the ingest Sample shape (user tag)
    val samples = Gateway.influxSamples(ms.toDF.toDF("line"), defaultTsMs = 0L)
      .select(col("series_id"), col("metric"), col("tags")("user").as("user"),
        col("ts"), col("value")).as[Sample]
    val dir = java.nio.file.Files.createTempDirectory("gw_e2e").toString
    val cfg = graft.operators.Quota.QuotaConfig(Seq("metric", "user"), Seq(10L, 1L))
    val q = Ingest.startSamplesIngestWithQuota(samples, s"$dir/sink", s"$dir/index",
      s"$dir/rejects", s"$dir/ckpt", cfg)
    try {
      ms.addData(
        "requests,user=1 counter=5 1000000000",  // ns → 1000 ms
        "requests,user=1 counter=9 2000000000",
        "requests,user=1 counter=9 2000000000",  // exact dup → dropped pre-quota
        "requests,user=2 counter=7 1500000000")  // 2nd series breaches quota 1
      q.processAllAvailable()
      val sunk = spark.read.parquet(s"$dir/sink")
      sunk.count() shouldEqual 2L // user 1 only, deduped
      // the breach is logged
      spark.read.parquet(s"$dir/rejects").count() shouldEqual 1L
      // and the surviving series answers PromQL over the sink (canonical
      // shape: the tags map is already there)
      val promSamples = sunk.select(col("metric"), col("tags"), col("ts"), col("value"))
      val ctx = graft.promql.PromPlanner.Ctx(spark, promSamples, 2000L, 2000L, 1000L)
      // [2s] window (0,2000] holds both points; idelta = last - prev = 4
      val got = graft.promql.PromPlanner.queryRange(ctx, """idelta(requests{user="1"}[2s])""")
        .select("value").as[Double].collect()
      got.length shouldEqual 1
      got.head shouldEqual 4.0 // counter 5 → 9
    } finally q.stop()
  }

  test("canonical quota ingest preserves arbitrary tag maps and enforces a " +
       "multi-level ws→ns shard key") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.Ingest
    import spark.implicits._
    val ms = MemoryStream[String]
    // gateway decode feeds the canonical entry DIRECTLY — no narrowing to
    // the single-user Sample shape, tags survive end-to-end
    val samples = Gateway.influxSamples(ms.toDF.toDF("line"), defaultTsMs = 0L)
    val dir = java.nio.file.Files.createTempDirectory("gw_canon").toString
    // ws → ns → metric: at most 2 namespaces per workspace
    val cfg = graft.operators.Quota.QuotaConfig(
      Seq("ws", "ns", "metric"), Seq(10L, 2L, 10L))
    val q = Ingest.startCanonicalIngestWithQuota(samples, s"$dir/sink",
      s"$dir/index", s"$dir/rejects", s"$dir/ckpt", cfg)
    try {
      ms.addData(
        "lat,ws=prod,ns=api value=1 1000000000",
        "lat,ws=prod,ns=web value=2 2000000000",
        "lat,ws=prod,ns=batch value=3 3000000000") // 3 namespaces, quota 2
      q.processAllAvailable()
      val sunk = spark.read.parquet(s"$dir/sink")
      // admission ranks children by KEY (deterministic, not arrival):
      // api and batch win the two slots, web is rejected; tag maps intact
      sunk.count() shouldEqual 2L
      sunk.select(col("tags")("ns")).as[String].collect().sorted shouldEqual
        Array("api", "batch")
      val rej = spark.read.parquet(s"$dir/rejects").collect()
      rej.length shouldEqual 1
      rej.head.getAs[Int]("reject_depth") shouldEqual 2 // the ns depth
      // the index kept the full tag map too
      spark.read.parquet(s"$dir/index").select(col("tags")("ws")).as[String]
        .collect().toSet shouldEqual Set("prod")
    } finally q.stop()
  }

  test("canonical quota ingest rejects samples missing a shard-key label " +
       "(depth 0) instead of bypassing enforcement") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.Ingest
    import spark.implicits._
    val ms = MemoryStream[String]
    val samples = Gateway.influxSamples(ms.toDF.toDF("line"), defaultTsMs = 0L)
    val dir = java.nio.file.Files.createTempDirectory("gw_nullkey").toString
    val cfg = graft.operators.Quota.QuotaConfig(Seq("ws", "metric"), Seq(10L, 1L))
    val q = Ingest.startCanonicalIngestWithQuota(samples, s"$dir/sink",
      s"$dir/index", s"$dir/rejects", s"$dir/ckpt", cfg)
    try {
      ms.addData(
        "lat,ws=prod value=1 1000000000",
        "lat value=2 2000000000") // NO ws tag: shard key incomplete
      q.processAllAvailable()
      // the keyless sample is rejected at depth 0 and never sinks —
      // previously it bypassed the cascade (null never equality-joins)
      // AND was always admitted
      spark.read.parquet(s"$dir/sink").count() shouldEqual 1L
      val rej = spark.read.parquet(s"$dir/rejects").collect()
      rej.length shouldEqual 1
      rej.head.getAs[Int]("reject_depth") shouldEqual 0
      assert(rej.head.isNullAt(rej.head.fieldIndex("__k0")))
    } finally q.stop()
  }

  test("streaming decode matches batch on the same lines (gateway seam)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[String]
    val q = Gateway.influxSamples(ms.toDF.toDF("line"), defaultTsMs = 5L)
      .writeStream.format("memory").queryName("gw_out")
      .outputMode("append").start()
    try {
      ms.addData(s"weather,location=us temperature=82 $T", "cpu value=42i", "malformed")
      q.processAllAvailable()
      val got = spark.table("gw_out")
        .select("metric", "ts", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = Gateway.influxSamples(
          Seq(s"weather,location=us temperature=82 $T", "cpu value=42i", "malformed")
            .toDF("line"), defaultTsMs = 5L)
        .select("metric", "ts", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      got shouldEqual batch
      got shouldEqual Set(("weather", TMs, 82.0), ("cpu", 5L, 42.0))
    } finally q.stop()
  }

  test("prom text metadata: TYPE/HELP/UNIT lines extract per family with " +
       "HELP un-escaping; absent fields stay null for field-wise upsert") {
    val payload =
      """# HELP http_requests_total Total requests\n(escaped \\ newline).
        |# TYPE http_requests_total counter
        |http_requests_total 5
        |# TYPE temp gauge
        |# UNIT temp celsius
        |# HELP helponly Only help here
        |# not metadata
        |# TYPE bad-name! counter
        |plain_sample 1""".stripMargin
    val rows = Gateway.parsePromMeta(payload)
    rows.toSet shouldEqual Set(
      ("http_requests_total", "counter", "Total requests\n(escaped \\ newline).", null),
      ("temp", "gauge", null, "celsius"),
      ("helponly", null, "Only help here", null))
    // frame form: one row per (payload, family)
    import spark.implicits._
    Gateway.promTextMeta(Seq(payload).toDF("body")).count() shouldEqual 3L
  }

  test("streaming metadata maintenance: scrape payloads upsert the store " +
       "per micro-batch, later TYPE-only scrapes keep the stored HELP") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-metastream").toString
    val ms = MemoryStream[String]
    val q = Gateway.startPromTextMetaIngest(ms.toDF.toDF("body"),
      s"$dir/meta", s"$dir/ckpt")
    try {
      ms.addData("# TYPE reqs counter\n# HELP reqs All requests.\nreqs 1")
      q.processAllAvailable()
      def meta() = graft.streaming.Ingest.readMetricMeta(spark, s"$dir/meta").get
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      meta() shouldEqual Set(("reqs", "counter", "All requests."))
      // a later TYPE-only scrape (plus a new family) merges field-wise
      ms.addData("# TYPE reqs counter\n# TYPE temp gauge\ntemp 3")
      q.processAllAvailable()
      meta() shouldEqual Set(("reqs", "counter", "All requests."),
        ("temp", "gauge", null))
    } finally q.stop()
  }

  test("metadata in-batch collapse is last-write-wins by input order (not " +
       "lexicographic max), and GC keeps one prior version for in-flight readers") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-metalww").toString
    // one batch, two conflicting TYPE rows for `m`: gauge first, counter
    // second. Lexicographic max() resolved to gauge regardless of order
    // (r12 advisor finding); LWW must take the LATER row
    graft.streaming.Ingest.upsertMetricMeta(spark, dir, Seq(
      ("m", "gauge", null, null),
      ("m", "counter", "Counts things.", null)).toDF("metric", "type", "help", "unit"))
    def meta() = graft.streaming.Ingest.readMetricMeta(spark, dir).get
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    meta() shouldEqual Set(("m", "counter", "Counts things."))
    // a trailing TYPE-only row must still not erase the earlier HELP
    // (max_by ignores null-keyed rows), and the later non-null TYPE wins
    graft.streaming.Ingest.upsertMetricMeta(spark, dir, Seq(
      ("m", null, null, "reqs"),
      ("m", "gauge", null, null)).toDF("metric", "type", "help", "unit"))
    meta() shouldEqual Set(("m", "gauge", "Counts things."))
    // version GC grace: the newest AND one prior version stay on disk so a
    // reader that resolved v=n-1 can finish its collect; older are gone
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def versions() = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("v=")).sorted.toSeq
    versions() shouldEqual Seq("v=1", "v=2")
    graft.streaming.Ingest.upsertMetricMeta(spark, dir,
      Seq(("n", "counter", null, null)).toDF("metric", "type", "help", "unit"))
    versions() shouldEqual Seq("v=2", "v=3")
  }

  test("OpenMetrics exemplars PARSE into side-table rows: labels, value, " +
       "seconds timestamp -> ms, sample-ts fallback, malformed ignored") {
    val payload =
      "lat_bucket{le=\"0.1\"} 7 # {trace_id=\"abc\"} 0.09 1520879607.789\n" +
      "reqs_total 5 12345 # {span=\"s1\"} 4.5\n" +            // no ex-ts -> sample ts
      "plain 1\n" +                                           // no exemplar
      "weird{note=\"a # b\"} 3 1000\n" +                     // '#' in data
      "bad 2 # {unclosed=\"x 9.9"                              // malformed: ignored
    val exs = Gateway.parsePromExemplars(payload, 999L)
    exs should have size 2
    val byMetric = exs.map(e => e._1 -> e).toMap
    val lat = byMetric("lat_bucket")
    lat._2 shouldEqual Map("le" -> "0.1")
    lat._3 shouldEqual Map("trace_id" -> "abc")
    lat._4 shouldEqual 1520879607789L
    lat._5 shouldEqual 0.09
    val rq = byMetric("reqs_total")
    rq._3 shouldEqual Map("span" -> "s1")
    rq._4 shouldEqual 12345L // the sample line's own ms timestamp
    rq._5 shouldEqual 4.5
    // the sample decode is unaffected: all five samples still land
    Gateway.parsePromText(payload, 999L).filter(_.err == null) should have size 5
  }

  test("streaming exemplar maintenance: scrape exemplars land content-" +
       "dedup'd in the side table and serve /api/v1/query_exemplars; a " +
       "replayed payload appends nothing") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-exstream").toString
    val ms = MemoryStream[String]
    val q = Gateway.startPromTextExemplarIngest(ms.toDF.toDF("body"),
      s"$dir/ex", s"$dir/ckpt", defaultTsMs = 500L)
    try {
      val payload = "lat 7 1000 # {trace_id=\"t1\"} 0.5 2\n" +
        "lat 9 2000 # {trace_id=\"t2\"} 0.7 3"
      ms.addData(payload)
      q.processAllAvailable()
      def table() = graft.streaming.Ingest.exemplarTable(spark, s"$dir/ex").get
        .select("metric", "ts", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      table() shouldEqual Set(("lat", 2000L, 0.5), ("lat", 3000L, 0.7))
      // a scraper re-delivering the same payload must append nothing
      ms.addData(payload)
      q.processAllAvailable()
      table() shouldEqual Set(("lat", 2000L, 0.5), ("lat", 3000L, 0.7))
      // the exemplar query endpoint serves the scrape-fed table
      val api = new graft.http.PromApi(spark, spark.range(0)
          .selectExpr("'x' as metric", "map() as tags", "id as ts",
            "cast(id as double) as value"),
        exemplarSource = Some(s"$dir/ex")).start()
      try {
        val url = s"http://localhost:${api.boundPort}/api/v1/query_exemplars?" +
          "query=lat&start=0&end=10"
        val c = new java.net.URI(url).toURL.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        val body = try new String(c.getInputStream.readAllBytes(), "UTF-8")
          finally c.disconnect()
        body should include("\"trace_id\":\"t1\"")
        body should include("\"trace_id\":\"t2\"")
      } finally api.stop()
    } finally q.stop()
  }

  test("staleMarkers synthesizes one __stale tombstone per series of a " +
       "dead target's last scrape; committed through the canonical chain " +
       "they cut the instant lookback") {
    import spark.implicits._
    import graft.promql.PromPlanner
    val payload =
      "up{target=\"a\"} 1 10000\nreqs{target=\"a\"} 7 10000\n" +
        "reqs{target=\"a\"} 7 10000\n" // duplicate line: one marker, not two
    val last = Gateway.promTextSamples(Seq(payload).toDF("body"), 10000L)
    val markers = Gateway.staleMarkers(last, 20000L)
    val rows = markers.collect()
    rows.length shouldEqual 2 // one per SERIES, dup lines collapsed
    rows.foreach { r =>
      r.getAs[Boolean]("__stale") shouldEqual true
      r.getAs[Double]("value").isNaN shouldEqual true
      r.getAs[Long]("ts") shouldEqual 20000L
    }
    // through the canonical commit chain + the planner's cutoff
    val dir = java.nio.file.Files.createTempDirectory("graft-stale-gw").toString
    val cfg = graft.operators.Quota.QuotaConfig(Seq("metric"), Seq(1000L))
    val known = new graft.streaming.Ingest.KnownSeries(spark, s"$dir/index")
    graft.streaming.Ingest.processCanonicalBatch(
      last.drop("kind"), 0L, s"$dir/sink", s"$dir/reject", cfg, known)
    graft.streaming.Ingest.processCanonicalBatch(
      markers, 1L, s"$dir/sink", s"$dir/reject", cfg, known)
    val sunk = spark.read.option("mergeSchema", "true").parquet(s"$dir/sink")
    def names(at: Long): Set[String] =
      PromPlanner.queryRange(
        PromPlanner.Ctx(spark, sunk, at, at, 1000L, lookbackMs = 60000L),
        """{target="a"}""")
        .select(col("labels")("__name__")).collect().map(_.getString(0)).toSet
    names(15000L) shouldEqual Set("up", "reqs")
    names(25000L) shouldEqual Set.empty[String]
  }

  test("a LATE out-of-order scrape batch neither regresses target state " +
       "nor emits spurious markers (r15 advisor: watermarkDelay > 0 lets " +
       "older batches through)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Gateway.ScrapeRow]
    val q = Gateway.scrapeStaleMarkers(ms.toDS(), staleAfterMs = 600000L,
        watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("scrape_stale_ooo")
      .outputMode("append").start()
    try {
      def row(sid: Long, user: String, ts: Long) =
        Gateway.ScrapeRow("t1", sid, "m", Map("user" -> user), ts, 1.0)
      ms.addData(row(1, "a", 20000L), row(2, "b", 20000L))
      q.processAllAvailable()
      ms.addData(row(1, "a", 30000L), row(2, "b", 30000L))
      q.processAllAvailable()
      // LATE re-delivery of the 20000 scrape carrying only series a:
      // diffing it against the newer snapshot would mark b stale at 20000
      // and pull lastTs backwards — it must be dropped instead
      ms.addData(row(1, "a", 20000L))
      q.processAllAvailable()
      spark.table("scrape_stale_ooo").count() shouldEqual 0
      // state did not regress: the next LIVE scrape (40000) missing b
      // marks b at 40000, proving the remembered snapshot was still the
      // 30000 one
      ms.addData(row(1, "a", 40000L))
      q.processAllAvailable()
      val got = spark.table("scrape_stale_ooo")
        .select("series_id", "ts").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got shouldEqual Set((2L, 40000L))
    } finally q.stop()
  }

  test("processing-time fallback: vanish markers materialize on a FULLY " +
       "quiesced scrape stream (event-time timers would starve — the " +
       "watermark never advances without new scrapes)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Gateway.ScrapeRow]
    val q = Gateway.scrapeStaleMarkers(ms.toDS(), staleAfterMs = 2000L,
        processingTimeFallback = true)
      .writeStream.format("memory").queryName("scrape_stale_pt")
      .outputMode("append").start()
    try {
      def row(sid: Long, user: String, ts: Long) =
        Gateway.ScrapeRow("t1", sid, "m", Map("user" -> user), ts, 1.0)
      ms.addData(row(1, "a", 10000L), row(2, "b", 10000L))
      // NO further data ever arrives — wall clock alone must fire the
      // timers. The engine keeps running timeout-only batches for
      // processing-time timers on its own, so the test POLLS the sink
      // (processAllAvailable can block indefinitely on such a stream —
      // there is always "another batch" to run).
      val deadline = System.currentTimeMillis() + 60000L
      var n = 0L
      while (n < 2 && System.currentTimeMillis() < deadline) {
        Thread.sleep(500L)
        n = spark.table("scrape_stale_pt").count()
      }
      n shouldEqual 2L
      // marker timestamps stay EVENT-time (lastTs + staleAfterMs) in both
      // modes — only the firing clock differs
      val got = spark.table("scrape_stale_pt")
        .select("series_id", "ts", "__stale").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      got shouldEqual Set((1L, 12000L, true), (2L, 12000L, true))
    } finally q.stop()
  }

  test("TCP socket listener e2e: a real client socket writes Influx lines " +
       "(\\n and \\r\\n framed) to the bound port and they land in the sink " +
       "through the quota ingest chain, parse errors counted as data") {
    import graft.streaming.{Ingest, InfluxSocketServer}
    val srv = new InfluxSocketServer(spark)
    val dir = java.nio.file.Files.createTempDirectory("gw_sock").toString
    val cfg = graft.operators.Quota.QuotaConfig(Seq("metric"), Seq(10L))
    val q = Ingest.startCanonicalIngestWithQuota(srv.samples(defaultTsMs = 0L),
      s"$dir/sink", s"$dir/index", s"$dir/rejects", s"$dir/ckpt", cfg)
    try {
      // two clients (Telegraf reconnects; framing must be per-connection)
      def send(body: String): Unit = {
        val s = new java.net.Socket("localhost", srv.boundPort)
        try {
          s.getOutputStream.write(body.getBytes("UTF-8"))
          s.getOutputStream.flush()
        } finally s.close()
      }
      send("requests,user=1 counter=5 1000000000\r\n" + // \r\n framing
           "requests,user=1 counter=9 2000000000\n")
      send("\n" + // blank line ignored
           "lat,ws=prod value=3 3000000000\n" +
           "not an influx line at all\n") // parse error -> err row, as data
      val deadline = System.currentTimeMillis() + 30000L
      while (srv.bridgedLines.get() < 4L &&
             System.currentTimeMillis() < deadline) Thread.sleep(20L)
      srv.receivedLines.get() shouldEqual 4L
      srv.droppedLines.get() shouldEqual 0L
      q.processAllAvailable()
      val sunk = spark.read.parquet(s"$dir/sink")
      sunk.count() shouldEqual 3L // the malformed line never reaches the sink
      sunk.select("metric", "ts", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet shouldEqual
        Set(("requests", 1000L, 5.0), ("requests", 2000L, 9.0),
            ("lat", 3000L, 3.0))
      // the decode itself reports the reject with its reason, the
      // reference's numInfluxParseErrors-as-data design
      Gateway.influxRejectStats(Seq("not an influx line at all").toDF("line"), 0L)
        .count() shouldEqual 1L
    } finally { q.stop(); srv.stop() }
  }
}
