package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.http.{OtlpWire, PromApi, ProtoWire, RemoteRead}
import graft.streaming.Ingest
import graft.operators.Quota

/** The remote-write service path: prompb native-histogram/exemplar wire
  * codec, the cumulative→delta conversion (ref otel-exp-delta-histogram
  * semantics, core/src/main/resources/filodb-defaults.conf:220-467), its
  * crash protocol, and the hardened service layer (pooled dispatch,
  * in-flight cap + 429, claim-by-rename batch ids, compacted hwm base). */
class RemoteWriteSpec extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = GraftSession.builder("local[4]", "4").getOrCreate()

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val cfg = Quota.QuotaConfig(Seq("metric"), Seq(1000000L))

  private def hist(ts: Long, counts: Seq[Double], posOffset: Int = 1,
                   schema: Int = 0, zeroCount: Double = 0.0, zt: Double = 0.0,
                   resetHint: Int = 0, sumV: Double = 0.0): ProtoWire.PHistogram =
    ProtoWire.PHistogram(ts, schema, zt, zeroCount, counts.sum + zeroCount,
      sum = sumV, resetHint, posOffset, counts, 0, Nil)

  /** canonical rows in the exact shape the PromApi handler builds for a
    * histogram-bearing POST (exp columns + transient __reset_hint). */
  private def canonicalHist(rows: Seq[(String, ProtoWire.PHistogram)]): DataFrame = {
    import spark.implicits._
    rows.map { case (metric, h) =>
      (metric, Map.empty[String, String], h.ts, null.asInstanceOf[java.lang.Double],
        h.schema, h.posOffset - 1, h.posCounts, h.zeroCount + h.negCounts.sum,
        h.zeroThreshold, h.sum, h.resetHint)
    }.toDF("metric", "tags", "ts", "value", "exp_scale", "exp_offset",
      "exp_counts", "exp_zero_count", "exp_zero_threshold", "exp_sum",
      "__reset_hint")
      .withColumn("value", col("value").cast("double"))
  }

  private def sunkHists(sinkDir: String, metric: String) =
    spark.read.parquet(sinkDir).filter(col("metric") === metric)
      .select(col("ts").cast("long"), col("exp_scale"), col("exp_offset"),
        col("exp_counts"), col("exp_zero_count"), col("series_type"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getSeq[Double](3).toList, r.getDouble(4), r.getString(5)))
      .sortBy(_._1).toList

  // ===== wire codec ========================================================

  test("prompb native histogram: integer encode→decode round-trips, float " +
       "counts round-trip, exemplars ride the same TimeSeries") {
    val h = hist(1234L, Seq(5.0, 0.0, 3.0), posOffset = -2, schema = 2,
      zeroCount = 7.0, zt = 0.001, resetHint = 2)
    val ex = ProtoWire.PExemplar(Seq("trace_id" -> "abc123"), 42.5, 1200L)
    val s = ProtoWire.PSeries(Seq("__name__" -> "m", "job" -> "j"),
      Seq(ProtoWire.PSample(1.5, 1000L)), Seq(h), Seq(ex))
    val back = ProtoWire.decodeWriteRequest(
      ProtoWire.encodeWriteRequest(Seq(s)))
    back should have size 1
    back.head.labels shouldEqual s.labels
    back.head.samples shouldEqual s.samples
    back.head.exemplars shouldEqual s.exemplars
    back.head.histograms shouldEqual Seq(h.copy(count = h.count)) // dense already
    // float histogram (fractional counts switch the encoding)
    val hf = hist(99L, Seq(0.5, 2.25), posOffset = 0, zeroCount = 0.25)
    val backF = ProtoWire.decodeWriteRequest(ProtoWire.encodeWriteRequest(
      Seq(ProtoWire.PSeries(Seq("__name__" -> "f"), Nil, Seq(hf))))).head
    backF.histograms shouldEqual Seq(hf)
  }

  test("prompb native histogram: multi-span gaps zero-fill into a dense " +
       "absolute bucket array (hand-encoded wire)") {
    // Histogram { schema=0 (field 4, zigzag); positive_spans (11):
    //   {offset=2,len=2}, {offset=3,len=1}; positive_deltas (12, packed
    //   zigzag): 5, -2, 1  → absolute counts 5,3,4 at indices 2,3,7;
    //   timestamp (15) = 777 }
    val hw = new ProtoWire.Writer
    hw.sint64(4, 0L)
    def span(off: Long, len: Long): ProtoWire.Writer = {
      val sw = new ProtoWire.Writer; sw.sint64(1, off); sw.int64(2, len); sw
    }
    hw.message(11, span(2, 2))
    hw.message(11, span(3, 1))
    hw.packedSint64(12, Seq(5L, -2L, 1L))
    hw.int64(15, 777L)
    val tw = new ProtoWire.Writer
    val lw = new ProtoWire.Writer; lw.string(1, "__name__"); lw.string(2, "m")
    tw.message(1, lw)
    tw.message(4, hw)
    val w = new ProtoWire.Writer
    w.message(1, tw)
    val got = ProtoWire.decodeWriteRequest(w.toBytes).head.histograms.head
    got.ts shouldEqual 777L
    got.posOffset shouldEqual 2
    got.posCounts shouldEqual Seq(5.0, 3.0, 0.0, 0.0, 0.0, 4.0)
  }

  // ===== cumulative→delta conversion ======================================

  test("cumulative→delta: in-batch lag, cross-POST state seed, absolute-" +
       "index alignment on layout growth, reset on decrease/scale-change, " +
       "gauge passthrough") {
    val dir = tmp("graft-c2d")
    val (sink, index, reject) = (s"$dir/sink", s"$dir/index", s"$dir/reject")
    val known = new Ingest.KnownSeries(spark, index)
    // batch 0: first two cumulative samples (in-batch lag)
    Ingest.remoteWriteBatch(canonicalHist(Seq(
      "m" -> hist(1000L, Seq(2.0, 1.0), zeroCount = 1.0, zt = 0.5),
      "m" -> hist(2000L, Seq(3.0, 1.0), zeroCount = 1.0, zt = 0.5))),
      0L, sink, reject, cfg, known)
    // batch 1: layout grows one bucket left and one right (posOffset 0 vs
    // 1) — prev counts align by ABSOLUTE index; seeds from batch 0 state
    Ingest.remoteWriteBatch(canonicalHist(Seq(
      "m" -> hist(3000L, Seq(1.0, 4.0, 2.0, 1.0), posOffset = 0,
        zeroCount = 2.0, zt = 0.5))),
      1L, sink, reject, cfg, known)
    // batch 2: a bucket decreases (counter reset → absolute), then a
    // scale change (→ absolute again)
    Ingest.remoteWriteBatch(canonicalHist(Seq(
      "m" -> hist(4000L, Seq(1.0, 0.0, 0.0, 0.0), posOffset = 0),
      "m" -> hist(5000L, Seq(2.0), posOffset = 4, schema = 1))),
      2L, sink, reject, cfg, known)
    // gauge histograms store as-is (already per-sample distributions)
    Ingest.remoteWriteBatch(canonicalHist(Seq(
      "g" -> hist(1000L, Seq(5.0, 5.0), resetHint = 3),
      "g" -> hist(2000L, Seq(7.0, 1.0), resetHint = 3))),
      3L, sink, reject, cfg, known)

    sunkHists(sink, "m") shouldEqual List(
      (1000L, 0, 0, List(2.0, 1.0), 1.0, "otel_exp_histogram"), // first: absolute
      (2000L, 0, 0, List(1.0, 0.0), 0.0, "otel_exp_histogram"), // lag delta
      // cross-POST + alignment: cur abs idx -1..2 minus prev abs idx 0..1
      (3000L, 0, -1, List(1.0, 1.0, 1.0, 1.0), 1.0, "otel_exp_histogram"),
      (4000L, 0, -1, List(1.0, 0.0, 0.0, 0.0), 0.0, "otel_exp_histogram"), // reset
      (5000L, 1, 3, List(2.0), 0.0, "otel_exp_histogram"))                 // scale change
    sunkHists(sink, "g") shouldEqual List(
      (1000L, 0, 0, List(5.0, 5.0), 0.0, "otel_exp_histogram"),
      (2000L, 0, 0, List(7.0, 1.0), 0.0, "otel_exp_histogram"))
  }

  test("crash between the state write and the sink commit: a sender retry " +
       "recomputes identical deltas from the pre-crash state version") {
    val dir = tmp("graft-crash")
    val (sink, index, reject) = (s"$dir/sink", s"$dir/index", s"$dir/reject")
    val known = new Ingest.KnownSeries(spark, index)
    val stateDir = s"$index/_exp_state"
    Ingest.remoteWriteBatch(canonicalHist(Seq(
      "m" -> hist(1000L, Seq(3.0, 1.0)))), 0L, sink, reject, cfg, known)
    // crashed attempt: the conversion ran (state delta persisted) but the
    // sink/index commit never happened
    val crashed = canonicalHist(Seq("m" -> hist(2000L, Seq(5.0, 2.0))))
      .withColumn("series_id",
        graft.model.SeriesKey.id(col("metric"), col("tags")))
    Ingest.expCumulativeToDelta(crashed, 1L, stateDir).collect()
    spark.read.parquet(stateDir).count() shouldEqual 2L // both versions live
    // sender retry (new batch id, same samples): the fold must seed from
    // batch 0's state — the crashed attempt's own row is not older than
    // the retried sample — so the delta is 5-3/2-1, not 5-5/2-2
    Ingest.remoteWriteBatch(canonicalHist(Seq(
      "m" -> hist(2000L, Seq(5.0, 2.0)))), 2L, sink, reject, cfg, known)
    sunkHists(sink, "m") shouldEqual List(
      (1000L, 0, 0, List(3.0, 1.0), 0.0, "otel_exp_histogram"),
      (2000L, 0, 0, List(2.0, 1.0), 0.0, "otel_exp_histogram"))
    // state compaction keeps TWO versions per series (the crash protocol's
    // seed-depth requirement) and drops the rest
    Ingest.remoteWriteBatch(canonicalHist(Seq(
      "m" -> hist(3000L, Seq(6.0, 2.0)))), 3L, sink, reject, cfg, known)
    Ingest.compactExpState(spark, stateDir)
    // post-r11 layout: the fold publishes a versioned _base dir and
    // consumes the delta segments
    val st = spark.read.parquet(s"$stateDir/_base")
      .select("ts").collect().map(_.getLong(0)).sorted
    st shouldEqual Array(2000L, 3000L)
  }

  test("zero bucket rides the quantile ladder: histogram_quantile over " +
       "remote-written native histograms resolves below the threshold") {
    import graft.promql.PromPlanner
    val dir = tmp("graft-zb")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg)
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws)).start()
    try {
      // 8 of 10 observations in [-zt, zt]=[−0.25, 0.25], 2 in (1, 2]:
      // φ=0.5 lands inside the zero bucket → interpolates within (0, zt]
      RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
        Seq("__name__" -> "zb"), Nil,
        Seq(hist(1000L, Seq(2.0), posOffset = 1, zeroCount = 8.0, zt = 0.25)))),
        s"http://localhost:${api.boundPort}")
    } finally api.stop()
    val sunk = spark.read.parquet(s"$dir/sink")
    val ctx = PromPlanner.Ctx(spark, sunk, 1000L, 1000L, 1000L)
    val q50 = PromPlanner.queryRange(ctx, "histogram_quantile(0.5, zb)")
      .select("value").collect().head.getDouble(0)
    // cum: 8 at le=0.25, 10 at le=2, 10 at +Inf → rank 5 ⇒ 0.25 * 5/8
    q50 shouldEqual 0.25 * 5.0 / 8.0 +- 1e-12
  }

  // ===== service hardening =================================================

  test("concurrent POSTs: all land exactly once under the in-flight cap; " +
       "429 overflow is retryable and loses nothing") {
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val dir = tmp("graft-conc")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject",
      Quota.QuotaConfig(Seq("metric"), Seq(1000L)))
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
      httpThreads = 8, maxInFlightWrites = 2).start()
    val url = s"http://localhost:${api.boundPort}/api/v1/write"
    val codes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    try {
      val client = HttpClient.newHttpClient()
      def postOnce(body: Array[Byte]): Int =
        client.send(HttpRequest.newBuilder(URI.create(url))
          .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
          HttpResponse.BodyHandlers.ofByteArray()).statusCode()
      // the senders retry every 429 until their write lands: how long six
      // serialized sync commits take depends on the box, so only one
      // generous overall deadline bounds the wait, not a retry count
      val deadline = System.nanoTime() + 600L * 1000000000L
      val threads = (1 to 6).map { i =>
        new Thread(() => {
          val body = org.xerial.snappy.Snappy.compress(
            ProtoWire.encodeWriteRequest(Seq(ProtoWire.PSeries(
              Seq("__name__" -> s"m$i"),
              Seq(ProtoWire.PSample(i.toDouble, 1000L))))))
          var code = postOnce(body)
          while (code == 429 && System.nanoTime() < deadline) { // sender backoff
            codes.add(code); Thread.sleep(50); code = postOnce(body)
          }
          codes.add(code)
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
    } finally api.stop()
    import scala.jdk.CollectionConverters._
    codes.asScala.toSet.subsetOf(Set(204, 429)) shouldEqual true
    codes.asScala.count(_ == 204) shouldEqual 6
    val sunk = spark.read.parquet(s"$dir/sink")
      .select("metric", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toList.sorted
    sunk shouldEqual (1 to 6).map(i => (s"m$i", i.toDouble)).toList
  }

  test("two API instances over one sink mint disjoint batch ids " +
       "(claim-by-rename makes the single-writer contract structural)") {
    val dir = tmp("graft-claims")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg)
    val a = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws)).start()
    val b = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws)).start()
    try {
      // both instances boot with the same starting guess (empty sink);
      // the claim files arbitrate — no batch dir may be written twice
      for ((api, i) <- Seq((a, 1), (b, 2), (a, 3), (b, 4)))
        RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
          Seq("__name__" -> s"m$i"), Seq(ProtoWire.PSample(i.toDouble, 1000L)))),
          s"http://localhost:${api.boundPort}")
    } finally { a.stop(); b.stop() }
    spark.read.parquet(s"$dir/sink").count() shouldEqual 4L
    val fs = new org.apache.hadoop.fs.Path(s"$dir/sink")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/sink"))
      .map(_.getPath.getName).filter(_.startsWith("batch_id=")).sorted
    batchDirs shouldEqual Array("batch_id=0", "batch_id=1", "batch_id=2", "batch_id=3")
  }

  test("hwm base + index deltas == the full fold; stale drops hold across " +
       "compaction; compaction keeps the newest base only") {
    val dir = tmp("graft-hwm")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg)
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
      hwmCompactEvery = 2).start()
    def post(metric: String, ts: Long, v: Double): Unit =
      RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
        Seq("__name__" -> metric), Seq(ProtoWire.PSample(v, ts)))),
        s"http://localhost:${api.boundPort}")
    try {
      post("a", 1000L, 1.0); post("b", 1000L, 2.0) // compaction fires here
      post("a", 2000L, 3.0)                        // delta past the base
      val full = spark.read.parquet(s"$dir/index")
        .groupBy(col("series_id")).agg(max(col("end_ts")).as("__hwm"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val merged = new Ingest.KnownSeries(spark, s"$dir/index").frame
        .select("series_id", "hwm").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      merged shouldEqual full
      // stale and duplicate samples still drop after compaction
      post("a", 1500L, 9.0); post("a", 2000L, 9.0)
      val rows = spark.read.parquet(s"$dir/sink")
        .filter(col("metric") === "a")
        .select("ts", "value").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      rows shouldEqual Set((1000L, 1.0), (2000L, 3.0))
      val fs = new org.apache.hadoop.fs.Path(s"$dir/index")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val bases = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/index/_hwm"))
        .map(_.getPath.getName)
      bases.length shouldEqual 1 // older bases deleted after each fold
    } finally api.stop()
  }

  test("the native histogram's SUM field deltas with the buckets; a count " +
       "reset credits the absolute sum; histogram_count/sum/avg answer " +
       "per-interval scalars from a PromQL string") {
    val dir = tmp("graft-sumfield")
    val (sink, index, reject) = (s"$dir/sink", s"$dir/index", s"$dir/reject")
    val known = new Ingest.KnownSeries(spark, index)
    Ingest.remoteWriteBatch(canonicalHist(Seq(
      "m" -> hist(1000L, Seq(2.0, 0.0), sumV = 10.0),
      "m" -> hist(2000L, Seq(4.0, 1.0), sumV = 25.0), // delta: 3 obs, sum 15
      "m" -> hist(3000L, Seq(1.0, 0.0), sumV = 4.0))), // count reset → absolute
      0L, sink, reject, cfg, known)
    val sums = spark.read.parquet(sink).filter(col("metric") === "m")
      .select(col("ts").cast("long"), col("exp_sum")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toList
    sums shouldEqual List((1000L, 10.0), (2000L, 15.0), (3000L, 4.0))
    // PromQL surface: per-interval count/sum/avg at an instant
    val sunk = spark.read.parquet(sink)
    val ctx = graft.promql.PromPlanner.Ctx(spark, sunk, 2000L, 2000L, 1000L,
      lookbackMs = 1000L)
    def one(q: String): Double =
      graft.promql.PromPlanner.queryRange(ctx, q).select("value").head().getDouble(0)
    one("histogram_count(m)") shouldEqual 3.0
    one("histogram_sum(m)") shouldEqual 15.0
    one("histogram_avg(m)") shouldEqual 5.0
    // upstream estimator: buckets contribute at the geometric mean of
    // their bounds — interval deltas (2,1) in buckets (1,2],(2,4] with
    // mean 5: variance = (2(5-√2)² + (5-2√2)²)/3 = (87-40√2)/3
    val expectVar = (87.0 - 40.0 * math.sqrt(2.0)) / 3.0
    one("histogram_stdvar(m)") shouldEqual expectVar +- 1e-9
    one("histogram_stddev(m)") shouldEqual math.sqrt(expectVar) +- 1e-9
  }

  test("seriesHwm merges the base with MULTIPLE delta segments (the r10 " +
       "rehearsal's CONFLICTING_DIRECTORY_STRUCTURES regression)") {
    val dir = tmp("graft-hwm-multi")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg)
    // compaction far away: deltas ACCUMULATE past the base
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
      hwmCompactEvery = 100).start()
    def post(ts: Long, v: Double): Unit =
      RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
        Seq("__name__" -> "m"), Seq(ProtoWire.PSample(v, ts)))),
        s"http://localhost:${api.boundPort}")
    try {
      post(1000L, 1.0)
      Ingest.compactHwm(spark, s"$dir/index") // base at upto=0
      post(2000L, 2.0); post(3000L, 3.0)      // TWO delta dirs past the base
      // reading the merged hwm must survive several explicit batch_id= dirs
      val hwm = new Ingest.KnownSeries(spark, s"$dir/index").frame
        .select("series_id", "hwm").collect().map(r => r.getLong(1)).toList
      hwm shouldEqual List(3000L)
      // and the next POST still stale-drops through it
      post(2500L, 9.0)
      spark.read.parquet(s"$dir/sink").select("ts").collect()
        .map(_.getLong(0)).toSet shouldEqual Set(1000L, 2000L, 3000L)
      // the loaded state (base + deltas) carries the same known-series
      // identities as the full index fold (quota admission reads it)
      val catalog = new Ingest.KnownSeries(spark, s"$dir/index").frame
        .select("metric").distinct().collect().map(_.getString(0)).toList
      catalog shouldEqual List("m")
    } finally api.stop()
  }

  test("exemplars decode into the sink's side table, queryable as metadata") {
    val dir = tmp("graft-exm")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg,
      exemplarDir = Some(s"$dir/exemplars"))
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws)).start()
    try {
      RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
        Seq("__name__" -> "lat", "job" -> "api"),
        Seq(ProtoWire.PSample(0.2, 1000L)),
        exemplars = Seq(
          ProtoWire.PExemplar(Seq("trace_id" -> "t1"), 0.93, 950L),
          ProtoWire.PExemplar(Seq("trace_id" -> "t2"), 0.11, 990L)))),
        s"http://localhost:${api.boundPort}")
    } finally api.stop()
    val ex = spark.read.parquet(s"$dir/exemplars")
    ex.count() shouldEqual 2L
    val got = ex.select(col("metric"), col("tags")("job"),
        col("exemplar_labels")("trace_id"), col("ts"), col("value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getDouble(4))).toSet
    got shouldEqual Set(("lat", "api", "t1", 950L, 0.93),
      ("lat", "api", "t2", 990L, 0.11))
    // the metadata shape: top traced observation per series
    val top = ex.groupBy("metric").agg(max("value").as("max_exemplar"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    top shouldEqual Set(("lat", 0.93))
  }

  test("exemplar re-POSTs append nothing: the side table dedups by content " +
       "identity (a sender retry after a lost 204 must not duplicate)") {
    val dir = tmp("graft-exdedup")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg,
      exemplarDir = Some(s"$dir/exemplars"))
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws)).start()
    val series = Seq(ProtoWire.PSeries(
      Seq("__name__" -> "lat"),
      Seq(ProtoWire.PSample(0.2, 1000L)),
      exemplars = Seq(ProtoWire.PExemplar(Seq("trace_id" -> "t1"), 0.93, 950L))))
    try {
      val url = s"http://localhost:${api.boundPort}"
      RemoteRead.remoteWriteSeries(series, url)
      RemoteRead.remoteWriteSeries(series, url) // retry: samples hwm-drop...
      // ...and a new POST carrying one OLD and one NEW exemplar appends
      // only the new one
      RemoteRead.remoteWriteSeries(Seq(series.head.copy(
        samples = Seq(ProtoWire.PSample(0.3, 2000L)),
        exemplars = series.head.exemplars :+
          ProtoWire.PExemplar(Seq("trace_id" -> "t2"), 0.5, 1990L))), url)
    } finally api.stop()
    val ex = spark.read.parquet(s"$dir/exemplars")
      .select(col("exemplar_labels")("trace_id"), col("ts"), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toList
    ex.sortBy(_._2) shouldEqual List(("t1", 950L, 0.93), ("t2", 1990L, 0.5))
  }

  test("NHCB / out-of-range schemas answer 400, never corrupt storage " +
       "(custom-bucket spans are not exponential buckets)") {
    val dir = tmp("graft-nhcb")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg)
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws)).start()
    try {
      val url = s"http://localhost:${api.boundPort}"
      val nhcb = hist(1000L, Seq(2.0, 1.0), schema = -53)
      val err = intercept[IllegalStateException] {
        RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
          Seq("__name__" -> "m"), Nil, histograms = Seq(nhcb))), url)
      }
      err.getMessage should include("HTTP 400")
      err.getMessage should include("schema")
      // a valid POST on the same server still lands (the reject was
      // per-request, not a poisoned sink)
      RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
        Seq("__name__" -> "m"), Nil,
        histograms = Seq(hist(1000L, Seq(2.0, 1.0), schema = 0)))), url)
      spark.read.parquet(s"$dir/sink").count() shouldEqual 1L
    } finally api.stop()
  }

  test("a PARTIAL hwm base (no _SUCCESS: crashed writer) is never trusted; " +
       "a hidden staging leftover breaks nothing") {
    val dir = tmp("graft-partialbase")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg)
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
      hwmCompactEvery = 0).start()
    def post(ts: Long, v: Double): Unit =
      RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
        Seq("__name__" -> "m"), Seq(ProtoWire.PSample(v, ts)))),
        s"http://localhost:${api.boundPort}")
    try {
      post(1000L, 1.0)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // simulate a compaction that died mid-write: a base dir with data
      // but NO _SUCCESS marker, claiming a far-future upto — if trusted,
      // series `m` would vanish from the hwm and quota catalog entirely
      val partial = new org.apache.hadoop.fs.Path(s"$dir/index/_hwm/upto=999")
      fs.mkdirs(partial)
      // plus a hidden staging leftover from another crashed attempt
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/index/_hwm/_tmp"))
      // the hwm still serves from the delta segments: a stale re-POST drops
      post(500L, 9.0)
      spark.read.parquet(s"$dir/sink").select("ts").collect()
        .map(_.getLong(0)).toList shouldEqual List(1000L)
      // and a real compaction publishes past the junk atomically
      Ingest.compactHwm(spark, s"$dir/index")
      post(2000L, 2.0); post(1500L, 9.0)
      spark.read.parquet(s"$dir/sink").select("ts").collect()
        .map(_.getLong(0)).toSet shouldEqual Set(1000L, 2000L)
    } finally api.stop()
  }

  // ===== group-commit spool =================================================

  test("spool mode: N parallel POSTs ack on durable append and land exactly " +
       "once in ONE drained batch; re-POSTs and stale samples still drop") {
    val dir = tmp("graft-spool")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg,
      exemplarDir = Some(s"$dir/exemplars"))
    // drain cadence far away: only the explicit drains below commit
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
      maxInFlightWrites = 32, spoolDrainMs = 3600000L).start()
    val url = s"http://localhost:${api.boundPort}"
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val futs = (0 until 16).map { i =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
              Seq("__name__" -> "m", "i" -> i.toString),
              Seq(ProtoWire.PSample(i.toDouble, 1000L)),
              exemplars = if (i == 0)
                Seq(ProtoWire.PExemplar(Seq("trace_id" -> "t"), 1.0, 999L)) else Nil)), url)
          })
        }
        futs.foreach(_.get())
      } finally pool.shutdown()
      // acked but not yet committed: nothing in the sink before the drain
      val fs = new org.apache.hadoop.fs.Path(s"$dir/sink")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/sink/batch_id=0")) shouldBe false
      api.drainSpool() shouldEqual 16
      val rows = spark.read.parquet(s"$dir/sink")
        .select(col("tags")("i"), col("value")).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSet
      rows shouldEqual (0 until 16).map(i => (i.toString, i.toDouble)).toSet
      // the whole window committed as ONE batch (16 POSTs, 1 Spark chain)
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/sink"))
        .map(_.getPath.getName).count(_.startsWith("batch_id=")) shouldEqual 1
      // re-POST + stale: cross-drain hwm drop and in-batch dedup both hold
      RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
        Seq("__name__" -> "m", "i" -> "0"),
        Seq(ProtoWire.PSample(0.0, 1000L), ProtoWire.PSample(99.0, 500L)))), url)
      api.drainSpool() shouldEqual 1
      spark.read.parquet(s"$dir/sink").count() shouldEqual 16L
      spark.read.parquet(s"$dir/exemplars").count() shouldEqual 1L
      api.drainSpool() shouldEqual 0 // nothing left
    } finally api.stop()
  }

  test("spool window dedup: equal-ts duplicates keep the least value — two " +
       "numbers, NaN as largest, a real NaN over a staleness marker — and a " +
       "value-only window dedups without a SortAggregate") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = tmp("graft-spooldedup")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg)
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
      spoolDrainMs = 3600000L).start()
    val url = s"http://localhost:${api.boundPort}"
    // one POST = one spool file; every pair below lands in one drain window
    def post(job: String, v: Double, stale: Boolean = false): Unit =
      RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
        Seq("__name__" -> "m", "job" -> job),
        Seq(ProtoWire.PSample(v, 1000L, stale)))), url)
    def sunk(job: String): Seq[(Double, Boolean)] = {
      val df = spark.read.option("mergeSchema", "true").parquet(s"$dir/sink")
      val stale =
        if (df.columns.contains("__stale")) coalesce(col("__stale"), lit(false))
        else lit(false)
      df.filter(col("tags")("job") === job).select(col("value"), stale)
        .collect().map(r => (r.getDouble(0), r.getBoolean(1))).toSeq
    }
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      post("a", 5.0); post("a", 3.0)
      post("b", Double.NaN); post("b", 2.0)
      api.drainSpool() shouldEqual 4
      // listener events arrive in order: once the sentinel's plan is
      // seen, every plan the drain executed has been recorded
      spark.range(1).select(col("id").as("dedup_sentinel")).collect()
      val deadline = System.currentTimeMillis() + 30000L
      while (!plans.toArray.exists(_.toString.contains("dedup_sentinel")) &&
             System.currentTimeMillis() < deadline) Thread.sleep(20)
      val executed = plans.toArray.mkString("\n")
      executed should include("dedup_sentinel")
      executed should include("min(value") // the dedup was recorded
      executed should not include "SortAggregate"
      sunk("a") shouldEqual Seq((3.0, false))
      sunk("b") shouldEqual Seq((2.0, false)) // NaN orders largest
      // a window carrying a marker keeps the struct rule over
      // (value, __stale): the NaNs tie, the unflagged one is least
      post("c", Double.NaN, stale = true); post("c", Double.NaN)
      api.drainSpool() shouldEqual 2
      val c = sunk("c")
      c should have size 1
      c.head._1.isNaN shouldBe true
      c.head._2 shouldBe false
    } finally {
      spark.listenerManager.unregister(listener)
      api.stop()
    }
  }

  test("spool crash windows: a crashed instance's acked spool drains clean " +
       "on the next instance; re-draining an identical window re-commits " +
       "the SAME batch id (idempotent overwrite, no duplicates)") {
    val dir = tmp("graft-spoolcrash")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg)
    val a = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
      spoolDrainMs = 3600000L).start()
    val body = ProtoWire.encodeWriteRequest(Seq(ProtoWire.PSeries(
      Seq("__name__" -> "m"), Seq(ProtoWire.PSample(1.0, 1000L)))))
    RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
      Seq("__name__" -> "m"), Seq(ProtoWire.PSample(1.0, 1000L)))),
      s"http://localhost:${a.boundPort}")
    // instance A "crashes" before its drainer ever fires (never stopped
    // cleanly); a fresh instance over the same sink inherits the spool
    val b = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
      spoolDrainMs = 3600000L).start()
    try {
      val fs = new org.apache.hadoop.fs.Path(s"$dir/sink")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val spooled = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/sink/_spool"))
        .map(_.getPath.getName).filter(_.endsWith(".wr"))
      spooled should have size 1
      val spoolId = spooled.head.stripSuffix(".wr").toLong
      b.drainSpool() shouldEqual 1
      spark.read.parquet(s"$dir/sink").count() shouldEqual 1L
      // the drain's batch id is the window's max spool id (deterministic)
      fs.exists(new org.apache.hadoop.fs.Path(
        s"$dir/sink/batch_id=$spoolId")) shouldBe true
      // crash between commit and cleanup: the file reappears — a re-drain
      // of the identical window must rewrite the SAME batch dir, not mint
      // a new one (exactly-once across the cleanup crash window)
      val re = fs.create(new org.apache.hadoop.fs.Path(
        s"$dir/sink/_spool/$spoolId.wr"), true)
      re.write(body); re.close()
      b.drainSpool() shouldEqual 1
      spark.read.parquet(s"$dir/sink").count() shouldEqual 1L
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/sink"))
        .map(_.getPath.getName).count(_.startsWith("batch_id=")) shouldEqual 1
      // and a FRESH instance's spool sequence seeds PAST drained ids: a
      // restart cannot re-mint an already-committed batch id
      val c = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
        spoolDrainMs = 3600000L).start()
      try {
        RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
          Seq("__name__" -> "m"), Seq(ProtoWire.PSample(2.0, 2000L)))),
          s"http://localhost:${c.boundPort}")
        c.drainSpool() shouldEqual 1
        spark.read.parquet(s"$dir/sink").count() shouldEqual 2L
      } finally c.stop()
    } finally { b.stop(); a.stop() }
  }

  test("bounded drain: one drainSpool() call empties a burst in multiple " +
       "capped micro-batches, samples exactly once") {
    val dir = tmp("graft-spoolcap")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg)
    // cap 4 files per micro-batch; 10 spooled POSTs must commit in >= 3
    // batches without any being held in one driver-heap window
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
      spoolDrainMs = 3600000L, spoolDrainMaxFiles = 4).start()
    val url = s"http://localhost:${api.boundPort}"
    try {
      (0 until 10).foreach { i =>
        RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
          Seq("__name__" -> "m", "i" -> i.toString),
          Seq(ProtoWire.PSample(i.toDouble, 1000L)))), url)
      }
      api.drainSpool() shouldEqual 10
      val fs = new org.apache.hadoop.fs.Path(s"$dir/sink")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/sink"))
        .map(_.getPath.getName).count(_.startsWith("batch_id=")) shouldEqual 3
      spark.read.parquet(s"$dir/sink").select(col("tags")("i"), col("value"))
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSet shouldEqual
        (0 until 10).map(i => (i.toString, i.toDouble)).toSet
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/sink/_spool"))
        .count(_.getPath.getName.endsWith(".wr")) shouldEqual 0
    } finally api.stop()
    // the byte cap stops a window too, but never below one file: under a
    // 1-byte cap every spooled POST drains as its own micro-batch
    val byteCap = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(
        PromApi.WriteSink(s"$dir/sink2", s"$dir/index2", s"$dir/reject2", cfg)),
      spoolDrainMs = 3600000L, spoolDrainMaxBytes = 1L).start()
    try {
      (0 until 3).foreach { i =>
        RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
          Seq("__name__" -> "m", "i" -> i.toString),
          Seq(ProtoWire.PSample(i.toDouble, 1000L)))),
          s"http://localhost:${byteCap.boundPort}")
      }
      byteCap.drainSpool() shouldEqual 3
      new java.io.File(s"$dir/sink2").list()
        .count(_.startsWith("batch_id=")) shouldEqual 3
    } finally byteCap.stop()
  }

  test("a crashed CAPPED drain re-derives the identical window and batch " +
       "id: re-draining after a cleanup crash repairs forward, no dupes") {
    val dir = tmp("graft-spoolcapcrash")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg)
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
      spoolDrainMs = 3600000L, spoolDrainMaxFiles = 4).start()
    val url = s"http://localhost:${api.boundPort}"
    try {
      val bodies = (0 until 6).map { i =>
        ProtoWire.encodeWriteRequest(Seq(ProtoWire.PSeries(
          Seq("__name__" -> "m", "i" -> i.toString),
          Seq(ProtoWire.PSample(i.toDouble, 1000L)))))
      }
      (0 until 6).foreach { i =>
        RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
          Seq("__name__" -> "m", "i" -> i.toString),
          Seq(ProtoWire.PSample(i.toDouble, 1000L)))), url)
      }
      api.drainSpool() shouldEqual 6 // windows {0..3} -> batch 3, {4,5} -> batch 5
      val fs = new org.apache.hadoop.fs.Path(s"$dir/sink")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq(3L, 5L).foreach { b =>
        fs.exists(new org.apache.hadoop.fs.Path(
          s"$dir/sink/batch_id=$b")) shouldBe true
      }
      // crash-before-cleanup of the FIRST capped window: its files
      // reappear; the capped prefix re-derives the SAME {0..3} window and
      // the SAME batch id 3, hits the committed repair branch, and cleans
      // up without duplicating a single sample
      (0 until 4).foreach { i =>
        val out = fs.create(new org.apache.hadoop.fs.Path(
          s"$dir/sink/_spool/$i.wr"), true)
        out.write(bodies(i)); out.close()
      }
      api.drainSpool() shouldEqual 4
      spark.read.parquet(s"$dir/sink").count() shouldEqual 6L
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/sink"))
        .map(_.getPath.getName).count(_.startsWith("batch_id=")) shouldEqual 2
    } finally api.stop()
  }

  test("drain is a CONTIGUOUS COMPLETED PREFIX: a pending .tmp below a " +
       "renamed .wr holds the drain back until the writer finishes or is " +
       "declared abandoned — the rename-inversion data-loss window is shut") {
    val dir = tmp("graft-spoolprefix")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg)
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
      spoolDrainMs = 3600000L, spoolTmpAbandonMs = 30000L).start()
    val url = s"http://localhost:${api.boundPort}"
    try {
      val fs = new org.apache.hadoop.fs.Path(s"$dir/sink")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // simulate the inversion: claim id 0 as a still-pending .tmp (a
      // racing POST mid-append), then let a real POST take id 1 and rename
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/sink/_spool"))
      val pend = fs.create(
        new org.apache.hadoop.fs.Path(s"$dir/sink/_spool/0.tmp"), false)
      pend.write(1); pend.close()
      RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
        Seq("__name__" -> "m"), Seq(ProtoWire.PSample(1.0, 1000L)))), url)
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/sink/_spool/1.wr")) shouldBe true
      // id 1 must NOT drain past the pending id 0
      api.drainSpool() shouldEqual 0
      // the writer finishes: both drain, in id order, as one window
      val body = ProtoWire.encodeWriteRequest(Seq(ProtoWire.PSeries(
        Seq("__name__" -> "m0"), Seq(ProtoWire.PSample(0.0, 1000L)))))
      val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/sink/_spool/0.tmp"), true)
      out.write(body); out.close()
      fs.rename(new org.apache.hadoop.fs.Path(s"$dir/sink/_spool/0.tmp"),
        new org.apache.hadoop.fs.Path(s"$dir/sink/_spool/0.wr"))
      api.drainSpool() shouldEqual 2
      spark.read.parquet(s"$dir/sink").select("metric").collect()
        .map(_.getString(0)).toSet shouldEqual Set("m", "m0")
      // an ABANDONED .tmp (writer died mid-append, never acked): after the
      // age threshold it is quarantined and stops blocking the prefix
      val dead = fs.create(new org.apache.hadoop.fs.Path(s"$dir/sink/_spool/2.tmp"), false)
      dead.write(1); dead.close()
      RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
        Seq("__name__" -> "m2"), Seq(ProtoWire.PSample(2.0, 2000L)))), url)
      api.drainSpool() shouldEqual 0 // fresh .tmp still blocks
      // backdate the claim past the abandonment threshold (no sleeps)
      fs.setTimes(new org.apache.hadoop.fs.Path(s"$dir/sink/_spool/2.tmp"),
        System.currentTimeMillis() - 60000L, -1)
      api.drainSpool() shouldEqual 1
      fs.exists(new org.apache.hadoop.fs.Path(
        s"$dir/sink/_spool/2.tmp.abandoned")) shouldBe true
      spark.read.parquet(s"$dir/sink").filter(col("metric") === "m2")
        .count() shouldEqual 1L
    } finally api.stop()
  }

  test("spool-mode /__health carries the drain-lag gauge: depth and oldest " +
       "age move with appends and reset on drain") {
    val dir = tmp("graft-spoolhealth")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg)
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
      spoolDrainMs = 3600000L).start()
    val url = s"http://localhost:${api.boundPort}"
    def health(): String = {
      val c = new java.net.URL(s"$url/__health").openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      try new String(c.getInputStream.readAllBytes(), "UTF-8") finally c.disconnect()
    }
    try {
      health() should include(""""spool":{"depth":0""")
      (0 until 3).foreach { i =>
        RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
          Seq("__name__" -> "m", "i" -> i.toString),
          Seq(ProtoWire.PSample(i.toDouble, 1000L)))), url)
      }
      health() should include(""""spool":{"depth":3""")
      api.drainSpool() shouldEqual 3
      health() should include(""""spool":{"depth":0,"oldestAgeMs":0""")
      // stalled-writer visibility: a live .tmp shows up as pendingTmp with
      // its age, distinguishing "prefix blocked by a dead writer" from
      // plain drain lag (depth)
      health() should include(""""pendingTmp":0,"oldestTmpAgeMs":0""")
      val fs = new org.apache.hadoop.fs.Path(s"$dir/sink")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val stalled = fs.create(
        new org.apache.hadoop.fs.Path(s"$dir/sink/_spool/99.tmp"), false)
      stalled.write(1); stalled.close()
      fs.setTimes(new org.apache.hadoop.fs.Path(s"$dir/sink/_spool/99.tmp"),
        System.currentTimeMillis() - 5000L, -1)
      val h = health()
      h should include(""""pendingTmp":1""")
      h should include(""""abandonAfterMs":30000""")
      // the reported age reflects the planted mtime (>= the 5 s backdate)
      val age = """"oldestTmpAgeMs":(\d+)""".r.findFirstMatchIn(h).get.group(1).toLong
      age should be >= 5000L
    } finally api.stop()
  }

  test("an all-duplicate retry right after a compaction must not wedge the " +
       "write path: its empty index delta (no part files) stays invisible " +
       "to hwm reads and later compactions") {
    val dir = tmp("graft-emptydelta")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg)
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
      hwmCompactEvery = 0).start()
    val url = s"http://localhost:${api.boundPort}"
    def post(ts: Long, v: Double): Unit =
      RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
        Seq("__name__" -> "m"), Seq(ProtoWire.PSample(v, ts)))), url)
    try {
      post(1000L, 1.0)
      Ingest.compactHwm(spark, s"$dir/index")
      // sender retry: every sample at/below its hwm -> zero admitted rows
      // -> the partitionBy(metric) index write emits NO part files
      post(1000L, 1.0)
      // pre-fix: the next hwm read threw UNABLE_TO_INFER_SCHEMA on the
      // empty delta and EVERY later POST answered 500 until hand-cleanup
      post(2000L, 2.0)
      spark.read.parquet(s"$dir/sink").select("ts").collect()
        .map(_.getLong(0)).toSet shouldEqual Set(1000L, 2000L)
      // and the compaction folds past the empty dir too
      Ingest.compactHwm(spark, s"$dir/index")
      post(1500L, 9.0) // still stale vs the folded hwm
      spark.read.parquet(s"$dir/sink").count() shouldEqual 2L
    } finally api.stop()
  }

  test("exemplar side table compacts base+delta like the index: dedup and " +
       "query_exemplars read through the compacted base, batch dirs consumed") {
    val dir = tmp("graft-excompact")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg,
      exemplarDir = Some(s"$dir/ex"))
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
      hwmCompactEvery = 2).start()
    val url = s"http://localhost:${api.boundPort}"
    def post(ts: Long, trace: String): Unit =
      RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
        Seq("__name__" -> "m"), Seq(ProtoWire.PSample(1.0, ts)),
        exemplars = Seq(ProtoWire.PExemplar(
          Seq("trace_id" -> trace), ts.toDouble, ts)))), url)
    try {
      post(1000L, "t1"); post(2000L, "t2") // 2nd commit triggers compaction
      val fs = new org.apache.hadoop.fs.Path(s"$dir/ex")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/ex"))
        .map(_.getPath.getName).count(_.startsWith("batch_id=")) shouldEqual 0
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/ex/_exbase")) shouldBe true
      Ingest.exemplarTable(spark, s"$dir/ex").get.count() shouldEqual 2L
      // dedup anti-joins THROUGH the base: a retry replay appends nothing
      post(2000L, "t2")
      Ingest.exemplarTable(spark, s"$dir/ex").get.count() shouldEqual 2L
      // fresh exemplars append as new deltas past the base...
      post(3000L, "t3")
      Ingest.exemplarTable(spark, s"$dir/ex").get.count() shouldEqual 3L
      // ...and query_exemplars reads base + delta seamlessly
      val c = new java.net.URI(s"http://localhost:${api.boundPort}" +
        "/api/v1/query_exemplars?query=m&start=0&end=100")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      val body = try new String(c.getInputStream.readAllBytes(), "UTF-8")
        finally c.disconnect()
      Seq("t1", "t2", "t3").foreach(t => body should include(t))
    } finally api.stop()
  }

  // ===== remote-write 2.0 ===================================================

  private def postV2(url: String, body: Array[Byte]): java.net.http.HttpResponse[String] = {
    val client = java.net.http.HttpClient.newHttpClient()
    client.send(java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .header("Content-Type",
        "application/x-protobuf;proto=io.prometheus.write.v2.Request")
      .header("Content-Encoding", "snappy")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(
        org.xerial.snappy.Snappy.compress(body))).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
  }

  test("remote-write 2.0 codec: symbol-table request round-trips labels, " +
       "samples, exemplars, histograms and inline metadata") {
    val h = hist(1234L, Seq(5.0, 0.0, 3.0), posOffset = -2, schema = 2,
      zeroCount = 7.0, zt = 0.001, resetHint = 2)
    val s1 = ProtoWire.PSeries(
      Seq("__name__" -> "http_requests_total", "job" -> "api"),
      Seq(ProtoWire.PSample(1.5, 1000L), ProtoWire.PSample(0.0, 2000L)),
      Seq(h),
      Seq(ProtoWire.PExemplar(Seq("trace_id" -> "abc"), 42.5, 1200L)))
    val s2 = ProtoWire.PSeries(Seq("__name__" -> "temp", "site" -> "b"),
      Seq(ProtoWire.PSample(21.5, 1000L)))
    val metas = Map(
      "http_requests_total" -> (("counter", "Total requests.", null: String)),
      "temp" -> (("gauge", null: String, "celsius")))
    val bytes = ProtoWire.encodeWriteRequestV2(Seq(s1, s2), metas)
    val (back, backMetas) = ProtoWire.decodeWriteRequestV2(bytes)
    back should have size 2
    back.head.labels shouldEqual s1.labels
    back.head.samples shouldEqual s1.samples
    back.head.exemplars shouldEqual s1.exemplars
    back.head.histograms shouldEqual Seq(h)
    back(1).labels shouldEqual s2.labels
    backMetas.toSet shouldEqual Set(
      ProtoWire.PMetaV2("http_requests_total", "counter", "Total requests.", null),
      ProtoWire.PMetaV2("temp", "gauge", null, "celsius"))
    // a dangling symbol ref is a 400-class decode error, not corruption
    an[Exception] should be thrownBy {
      val w = new ProtoWire.Writer
      w.bytes(4, Array.empty[Byte]) // symbols = [""]
      val tw = new ProtoWire.Writer
      tw.packedVarint(1, Seq(0L, 99L)) // ref 99 out of range
      w.message(5, tw)
      ProtoWire.decodeWriteRequestV2(w.toBytes)
    }
  }

  test("remote-write 2.0 end-to-end (sync): samples land through the same " +
       "chain, inline metadata persists, response carries written-stats") {
    val dir = tmp("graft-rw2")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg)
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
      metadataDir = Some(s"$dir/meta")).start()
    try {
      val series = Seq(ProtoWire.PSeries(
        Seq("__name__" -> "rw2_metric", "job" -> "j"),
        Seq(ProtoWire.PSample(1.0, 1000L), ProtoWire.PSample(2.0, 2000L))))
      val resp = postV2(s"http://localhost:${api.boundPort}/api/v1/write",
        ProtoWire.encodeWriteRequestV2(series,
          Map("rw2_metric" -> (("counter", "A v2 metric.", "requests")))))
      resp.statusCode() shouldEqual 204
      resp.headers().firstValue("X-Prometheus-Remote-Write-Samples-Written")
        .orElse("") shouldEqual "2"
      spark.read.parquet(s"$dir/sink").select(col("value")).collect()
        .map(_.getDouble(0)).toSet shouldEqual Set(1.0, 2.0)
      val meta = graft.streaming.Ingest.readMetricMeta(spark, s"$dir/meta").get
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getString(3)))
      meta.toSet shouldEqual Set(("rw2_metric", "counter", "A v2 metric.", "requests"))
      // a v1 POST on the same endpoint still decodes as v1
      RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
        Seq("__name__" -> "rw2_metric", "job" -> "j"),
        Seq(ProtoWire.PSample(3.0, 3000L)))),
        s"http://localhost:${api.boundPort}")
      spark.read.parquet(s"$dir/sink").count() shouldEqual 3L
    } finally api.stop()
  }

  test("remote-write 2.0 through the spool: v2 bodies publish as .wr2, the " +
       "drain decodes per version and applies the inline metadata") {
    val dir = tmp("graft-rw2spool")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg)
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
      metadataDir = Some(s"$dir/meta"), spoolDrainMs = 3600000L).start()
    try {
      val series = Seq(ProtoWire.PSeries(
        Seq("__name__" -> "rw2s", "i" -> "0"),
        Seq(ProtoWire.PSample(7.0, 1000L))))
      postV2(s"http://localhost:${api.boundPort}/api/v1/write",
        ProtoWire.encodeWriteRequestV2(series,
          Map("rw2s" -> (("gauge", "Spooled v2.", null))))).statusCode() shouldEqual 204
      // and a v1 POST interleaves in the same spool id space
      RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
        Seq("__name__" -> "rw2s", "i" -> "1"),
        Seq(ProtoWire.PSample(8.0, 1000L)))),
        s"http://localhost:${api.boundPort}")
      val fs = new org.apache.hadoop.fs.Path(s"$dir/sink")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/sink/_spool/0.wr2")) shouldBe true
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/sink/_spool/1.wr")) shouldBe true
      api.drainSpool() shouldEqual 2
      spark.read.parquet(s"$dir/sink").select(col("value")).collect()
        .map(_.getDouble(0)).toSet shouldEqual Set(7.0, 8.0)
      graft.streaming.Ingest.readMetricMeta(spark, s"$dir/meta").get
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .toSet shouldEqual Set(("rw2s", "gauge", "Spooled v2."))
    } finally api.stop()
  }

  test("compactExpState publishes a versioned base (no delete-then-rewrite " +
       "window), consumes its delta dirs, and the conversion still seeds") {
    val dir = tmp("graft-expbase")
    val (sink, index, reject) = (s"$dir/sink", s"$dir/index", s"$dir/reject")
    val known = new Ingest.KnownSeries(spark, index)
    val stateDir = s"$index/_exp_state"
    Ingest.remoteWriteBatch(canonicalHist(Seq(
      "m" -> hist(1000L, Seq(2.0, 0.0)))), 0L, sink, reject, cfg, known)
    Ingest.remoteWriteBatch(canonicalHist(Seq(
      "m" -> hist(2000L, Seq(5.0, 1.0)))), 1L, sink, reject, cfg, known)
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a legacy pre-r11 crash leftover that used to poison every state read
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$stateDir/compact_tmp"))
    Ingest.compactExpState(spark, stateDir)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(stateDir))
      .map(_.getPath.getName).sorted
    names shouldEqual Array("_base") // deltas consumed, legacy tmp cleaned
    // the NEXT batch must seed from the base: delta = 7-5=2, 2-1=1
    Ingest.remoteWriteBatch(canonicalHist(Seq(
      "m" -> hist(3000L, Seq(7.0, 2.0)))), 2L, sink, reject, cfg, known)
    sunkHists(sink, "m").map(h => (h._1, h._4)) shouldEqual List(
      (1000L, List(2.0, 0.0)), (2000L, List(3.0, 1.0)), (3000L, List(2.0, 1.0)))
  }

  test("GAUGE native histograms (reset_hint=3): legitimate shrinks are " +
       "stored as per-sample distributions — never delta-converted, never " +
       "treated as counter resets, across POSTs and batches") {
    val dir = tmp("graft-gaugehist")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg)
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws)).start()
    val url = s"http://localhost:${api.boundPort}"
    def post(hs: Seq[ProtoWire.PHistogram]): Unit =
      RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
        Seq("__name__" -> "g"), Nil, histograms = hs)), url)
    try {
      // grows then SHRINKS within one POST, then shrinks again across a
      // POST boundary (exercising the cross-batch state seed): a counter
      // series would reset-credit the absolute counts at the shrink; a
      // gauge must store every sample verbatim
      post(Seq(hist(1000L, Seq(5.0, 2.0), resetHint = 3, sumV = 9.0),
        hist(2000L, Seq(3.0, 1.0), resetHint = 3, sumV = 5.0)))
      post(Seq(hist(3000L, Seq(1.0, 1.0), resetHint = 3, sumV = 3.0)))
      sunkHists(s"$dir/sink", "g") shouldEqual List(
        (1000L, 0, 0, List(5.0, 2.0), 0.0, "otel_exp_histogram"),
        (2000L, 0, 0, List(3.0, 1.0), 0.0, "otel_exp_histogram"),
        (3000L, 0, 0, List(1.0, 1.0), 0.0, "otel_exp_histogram"))
      // the sum field stays per-sample too (a delta conversion would have
      // stored 5-9=-4 at t=2000)
      val sums = spark.read.parquet(s"$dir/sink").filter(col("metric") === "g")
        .select(col("ts").cast("long"), col("exp_sum")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toList
      sums shouldEqual List((1000L, 9.0), (2000L, 5.0), (3000L, 3.0))
      // instant quantile reads the shrunk sample as its own distribution
      val ctx = graft.promql.PromPlanner.Ctx(spark,
        spark.read.parquet(s"$dir/sink"), 3000L, 3000L, 1000L)
      graft.promql.PromPlanner.queryRange(ctx, "histogram_count(g)")
        .select("value").head().getDouble(0) shouldEqual 2.0
    } finally api.stop()
  }

  // ===== NHCB (schema -53 custom-bucket native histograms) =================

  private def nhcb(ts: Long, counts: Seq[Double], bounds: Seq[Double],
                   posOffset: Int = 0, resetHint: Int = 0,
                   count: Double = -1.0, sumV: Double = 0.0): ProtoWire.PHistogram =
    ProtoWire.PHistogram(ts, -53, 0.0, 0.0,
      if (count < 0) counts.sum else count, sum = sumV, resetHint,
      posOffset, counts, 0, Nil, customValues = bounds)

  test("NHCB wire: custom_values round-trips on v1 and v2; sparse spans " +
       "index the bounds list; malformed NHCB payloads answer 400") {
    val h = nhcb(1000L, Seq(2.0, 3.0, 1.0), Seq(1.0, 5.0, 10.0))
    val s = ProtoWire.PSeries(Seq("__name__" -> "m"), Nil, histograms = Seq(h))
    ProtoWire.decodeWriteRequest(ProtoWire.encodeWriteRequest(Seq(s)))
      .head.histograms.head shouldEqual h
    ProtoWire.decodeWriteRequestV2(ProtoWire.encodeWriteRequestV2(Seq(s)))
      ._1.head.histograms.head shouldEqual h
    // a float-count NHCB takes the packed-double path
    val hf = nhcb(1000L, Seq(2.5, 3.0), Seq(1.0, 5.0))
    ProtoWire.decodeWriteRequest(ProtoWire.encodeWriteRequest(Seq(
      s.copy(histograms = Seq(hf))))).head.histograms.head shouldEqual hf
    // sparse span starting above 0 (bucket 0 empty) survives
    val hs2 = nhcb(1000L, Seq(4.0), Seq(1.0, 5.0), posOffset = 1)
    ProtoWire.decodeWriteRequest(ProtoWire.encodeWriteRequest(Seq(
      s.copy(histograms = Seq(hs2))))).head.histograms.head shouldEqual hs2
    def rejects(bad: ProtoWire.PHistogram, frag: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        ProtoWire.decodeWriteRequest(ProtoWire.encodeWriteRequest(Seq(
          s.copy(histograms = Seq(bad)))))
      }
      e.getMessage should include(frag)
    }
    // -53 without bounds (the r10 reject, retained)
    rejects(hist(1000L, Seq(2.0, 1.0), schema = -53), "without custom_values")
    // bounds on an exponential schema
    rejects(nhcb(1000L, Seq(2.0), Seq(1.0)).copy(schema = 0), "exponential schema")
    // non-increasing bounds
    rejects(nhcb(1000L, Seq(2.0), Seq(5.0, 1.0)), "strictly increasing")
    // bucket indexes past the bounds list (+1 overflow)
    rejects(nhcb(1000L, Seq(1.0, 1.0, 1.0), Seq(1.0), posOffset = 0), "exceed")
  }

  test("a sync POST carrying one malformed NHCB series among good ones " +
       "answers 400 naming that series, on v1 and v2") {
    val dir = tmp("graft-badseries")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg)
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws)).start()
    val url = s"http://localhost:${api.boundPort}/api/v1/write"
    try {
      val series = Seq(
        ProtoWire.PSeries(Seq("__name__" -> "good_a"), Seq(ProtoWire.PSample(1.0, 1000L))),
        // bucket indexes [0, 3) overrun the 1-bound list (+1 overflow)
        ProtoWire.PSeries(Seq("__name__" -> "bad_nhcb", "job" -> "j"), Nil,
          histograms = Seq(nhcb(1000L, Seq(1.0, 1.0, 1.0), Seq(1.0), posOffset = 0))),
        ProtoWire.PSeries(Seq("__name__" -> "good_b"), Seq(ProtoWire.PSample(2.0, 1000L))))
      val v1 = java.net.http.HttpClient.newHttpClient().send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
          .header("Content-Type", "application/x-protobuf")
          .header("Content-Encoding", "snappy")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(
            org.xerial.snappy.Snappy.compress(ProtoWire.encodeWriteRequest(series)))).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      val v2 = postV2(url, ProtoWire.encodeWriteRequestV2(series))
      Seq(v1, v2).foreach { r =>
        r.statusCode() shouldEqual 400
        r.body() should include("malformed series bad_nhcb: ")
        r.body() should include("exceed")
      }
      // the whole payload is refused: its good series did not land either
      Option(new java.io.File(s"$dir/sink").list()).toSeq.flatten
        .filter(_.startsWith("batch_id=")) shouldBe empty
    } finally api.stop()
  }

  test("NHCB ingest end-to-end: custom buckets land as classic cumulative " +
       "bucket storage; instant histogram_quantile interpolates the custom " +
       "bounds; a mixed plain+exp+NHCB POST commits all three shapes") {
    val dir = tmp("graft-nhcbe2e")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg)
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws)).start()
    val url = s"http://localhost:${api.boundPort}"
    try {
      val bounds = Seq(1.0, 5.0, 10.0)
      // one POST carrying all three sample shapes for distinct metrics
      RemoteRead.remoteWriteSeries(Seq(
        ProtoWire.PSeries(Seq("__name__" -> "nh"), Nil, histograms = Seq(
          nhcb(1000L, Seq(2.0, 3.0, 1.0), bounds, sumV = 18.0), // cum le: 2,5,6,6
          nhcb(2000L, Seq(4.0, 6.0, 2.0), bounds, sumV = 48.0))), // cum: 4,10,12,12
        ProtoWire.PSeries(Seq("__name__" -> "plain"),
          Seq(ProtoWire.PSample(7.0, 2000L))),
        ProtoWire.PSeries(Seq("__name__" -> "eh"), Nil,
          histograms = Seq(hist(2000L, Seq(3.0, 1.0))))), url)
      val sunk = spark.read.parquet(s"$dir/sink")
      // NHCB rows: le = bounds :+ Inf, values cumulative-across-le with
      // the +Inf entry = the sample's total count
      val nh = sunk.filter(col("metric") === "nh")
        .select(col("ts").cast("long"), col("le"), col("values"), col("series_type"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toList,
          r.getSeq[Double](2).toList, r.getString(3))).sortBy(_._1).toList
      nh shouldEqual List(
        (1000L, List(1.0, 5.0, 10.0, Double.PositiveInfinity),
          List(2.0, 5.0, 6.0, 6.0), "prom_histogram"),
        (2000L, List(1.0, 5.0, 10.0, Double.PositiveInfinity),
          List(4.0, 10.0, 12.0, 12.0), "prom_histogram"))
      sunk.filter(col("metric") === "plain").select("value")
        .head().getDouble(0) shouldEqual 7.0
      sunk.filter(col("metric") === "eh").select("series_type")
        .head().getString(0) shouldEqual "otel_exp_histogram"
      // instant quantile at t=2000: rank 0.5*12=6 falls in (1,5] with
      // prev cum 4, bucket cum 10 -> 1 + 4*(6-4)/(10-4)
      val ctx = graft.promql.PromPlanner.Ctx(spark, sunk, 2000L, 2000L, 1000L)
      def one(q: String): Double =
        graft.promql.PromPlanner.queryRange(ctx, q).select("value")
          .head().getDouble(0)
      one("histogram_quantile(0.5, nh)") shouldEqual
        (1.0 + 4.0 * 2.0 / 6.0) +- 1e-9
      // scalar extractors over NHCB storage: count = +Inf cumulative
      // entry, sum = the stored wire sum, avg = sum/count
      one("histogram_count(nh)") shouldEqual 12.0
      one("histogram_sum(nh)") shouldEqual 48.0
      one("histogram_avg(nh)") shouldEqual 4.0
      // stddev/stdvar per the custom-bucket midpoint estimator: counts
      // (4,6,2,0) contribute at (le[0]=1, (1+5)/2=3, (5+10)/2=7.5,
      // lower-bound 10), mean 4 -> variance = (4*9 + 6*1 + 2*12.25)/12
      val expectVarN = (4.0 * 9 + 6.0 * 1 + 2.0 * 12.25) / 12.0
      one("histogram_stdvar(nh)") shouldEqual expectVarN +- 1e-9
      one("histogram_stddev(nh)") shouldEqual math.sqrt(expectVarN) +- 1e-9
      // the retry replay no-ops via the hwm (classic counter storage
      // needs no delta state)
      RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
        Seq("__name__" -> "nh"), Nil,
        histograms = Seq(nhcb(2000L, Seq(4.0, 6.0, 2.0), bounds)))), url)
      spark.read.parquet(s"$dir/sink").filter(col("metric") === "nh")
        .count() shouldEqual 2L
    } finally api.stop()
  }

  test("claim ledger shuts the pre-.tmp claim gap: an id claimed but not " +
       "yet visible on disk gates the drain; a stalled claim is poisoned " +
       "past the threshold so it can never ack out of order") {
    val dir = tmp("graft-spoolclaimgap")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg)
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
      spoolDrainMs = 3600000L, spoolTmpAbandonMs = 30000L).start()
    val url = s"http://localhost:${api.boundPort}"
    def post(i: Int): Unit =
      RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
        Seq("__name__" -> "m", "i" -> i.toString),
        Seq(ProtoWire.PSample(i.toDouble, 1000L + i)))), url)
    try {
      // simulate a writer wedged BETWEEN getAndIncrement and fs.create —
      // the window the .tmp prefix rule cannot see (no file exists yet)
      val wedged = api.claimSpoolId()
      // a sibling POST claims and fully publishes the NEXT id
      post(1)
      val fs = new org.apache.hadoop.fs.Path(s"$dir/sink")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/sink/_spool"))
        .count(_.getPath.getName.endsWith(".wr")) shouldEqual 1
      // pre-fix the .wr drained here, committing batch ids out of spool-id
      // order; the ledger floor must hold it back
      api.drainSpool() shouldEqual 0
      // the wedged writer gives up cleanly (IO failure path) -> unblocked
      api.abandonSpoolClaim(wedged)
      api.drainSpool() shouldEqual 1
      // a claim stalled past spoolTmpAbandonMs is POISONED rather than
      // gating forever: the drain moves past it...
      val stale = api.claimSpoolId(System.currentTimeMillis() - 60000L)
      post(2)
      api.drainSpool() shouldEqual 1
      // ...and when the wedged writer finally finishes, its settle is
      // REJECTED (the POST answers 500 and the sender retries) — a
      // poisoned id can never ack behind an already-drained higher id
      api.completeSpoolClaim(stale) shouldBe false
      // a fresh claim settles normally
      val ok = api.claimSpoolId()
      api.completeSpoolClaim(ok) shouldBe true
      spark.read.parquet(s"$dir/sink").count() shouldEqual 2L
    } finally api.stop()
  }

  test("remote-read ships native-histogram storage: NHCB rows re-encode " +
       "as schema -53 counters, exp rows ship GAUGE-hinted per-interval " +
       "deltas, and the client decodes both back to canonical storage") {
    val dir = tmp("graft-rr-hist")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg)
    val ingest = new PromApi(spark, spark.range(0).toDF(),
      writeSink = Some(ws)).start()
    try {
      val bounds = Seq(1.0, 5.0, 10.0)
      RemoteRead.remoteWriteSeries(Seq(
        ProtoWire.PSeries(Seq("__name__" -> "nh"), Nil, histograms = Seq(
          nhcb(1000L, Seq(2.0, 3.0, 1.0), bounds, sumV = 18.0),
          nhcb(2000L, Seq(4.0, 6.0, 2.0), bounds, sumV = 48.0))),
        ProtoWire.PSeries(Seq("__name__" -> "eh"), Nil, histograms = Seq(
          hist(1000L, Seq(3.0, 1.0), sumV = 9.0),
          hist(2000L, Seq(5.0, 2.0), sumV = 20.0))),
        ProtoWire.PSeries(Seq("__name__" -> "plain"),
          Seq(ProtoWire.PSample(7.0, 1500L)))),
        s"http://localhost:${ingest.boundPort}")
      val store = spark.read.option("mergeSchema", "true").parquet(s"$dir/sink")
      val readApi = new PromApi(spark, store).start()
      try {
        val back = RemoteRead.remoteRead(spark,
          s"http://localhost:${readApi.boundPort}",
          """{__name__=~"nh|eh|plain"}""", 0L, 10000L)
        // plain sample survives; histogram rows never fake 0-value samples
        back.filter(col("metric") === "plain" && col("value").isNotNull)
          .select("value").collect().map(_.getDouble(0)).toList shouldEqual List(7.0)
        // NHCB canonical rows identical to the sink's storage shape
        val nhBack = back.filter(col("metric") === "nh")
          .select(col("ts").cast("long"), col("le"), col("values"),
            col("hist_sum"), col("series_type"))
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toList,
            r.getSeq[Double](2).toList, r.getDouble(3), r.getString(4)))
          .sortBy(_._1).toList
        nhBack shouldEqual List(
          (1000L, List(1.0, 5.0, 10.0, Double.PositiveInfinity),
            List(2.0, 5.0, 6.0, 6.0), 18.0, "prom_histogram"),
          (2000L, List(1.0, 5.0, 10.0, Double.PositiveInfinity),
            List(4.0, 10.0, 12.0, 12.0), 48.0, "prom_histogram"))
        // exp rows: the store holds PER-INTERVAL deltas (cumulative wire
        // minus predecessor) and the round-trip preserves exactly that
        val ehBack = back.filter(col("metric") === "eh")
          .select(col("ts").cast("long"), col("exp_scale"), col("exp_offset"),
            col("exp_counts"), col("exp_sum"), col("series_type"))
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
            r.getSeq[Double](3).toList, r.getDouble(4), r.getString(5)))
          .sortBy(_._1).toList
        ehBack shouldEqual List(
          (1000L, 0, 0, List(3.0, 1.0), 9.0, "otel_exp_histogram"),
          (2000L, 0, 0, List(2.0, 1.0), 11.0, "otel_exp_histogram"))
        // PromQL over the fetched frame = PromQL over the origin store
        def q50(df: org.apache.spark.sql.DataFrame): Double =
          graft.promql.PromPlanner.queryRange(
            graft.promql.PromPlanner.Ctx(spark, df, 2000L, 2000L, 1000L),
            "histogram_quantile(0.5, nh)").select("value").head().getDouble(0)
        q50(back) shouldEqual q50(store) +- 1e-9
      } finally readApi.stop()
    } finally ingest.stop()
  }

  /** A remote-read endpoint answering every query with `series`. */
  private def cannedReadServer(series: Seq[ProtoWire.PSeries]): com.sun.net.httpserver.HttpServer = {
    val body = org.xerial.snappy.Snappy.compress(ProtoWire.encodeReadResponse(Seq(series)))
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("localhost", 0), 0)
    srv.createContext("/api/v1/read", { ex =>
      ex.getRequestBody.readAllBytes()
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    srv.start()
    srv
  }

  test("remote-read decodes as ingest stores: an NHCB span overrunning its " +
       "bounds fails naming the series, negative exp buckets fold into the " +
       "zero count") {
    val overrun = cannedReadServer(Seq(
      ProtoWire.PSeries(Seq("__name__" -> "ok_plain"), Seq(ProtoWire.PSample(1.0, 1000L))),
      ProtoWire.PSeries(Seq("__name__" -> "bad_nhcb"), Nil, histograms = Seq(
        nhcb(1000L, Seq(1.0, 1.0), Seq(1.0), posOffset = 1)))))
    try {
      val ex = intercept[IllegalArgumentException] {
        RemoteRead.remoteRead(spark, s"http://localhost:${overrun.getAddress.getPort}",
          """{__name__=~".+"}""", 0L, 10000L)
      }
      ex.getMessage should include("bad_nhcb")
    } finally overrun.stop(0)
    val neg = cannedReadServer(Seq(
      ProtoWire.PSeries(Seq("__name__" -> "neg_exp"), Nil, histograms = Seq(
        ProtoWire.PHistogram(1000L, schema = 0, zeroThreshold = 0.5, zeroCount = 2.0,
          count = 7.5, sum = 4.0, resetHint = 3, posOffset = 1,
          posCounts = Seq(1.0, 3.0), negOffset = 1, negCounts = Seq(1.5))))))
    try {
      val back = RemoteRead.remoteRead(spark,
        s"http://localhost:${neg.getAddress.getPort}", "neg_exp", 0L, 10000L)
      back.columns.take(4) shouldEqual Array("metric", "tags", "ts", "value")
      back.columns should not contain "__reset_hint"
      back.select(col("exp_offset"), col("exp_counts"), col("exp_zero_count"),
          col("exp_zero_threshold"), col("series_type"))
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toList, r.getDouble(2),
          r.getDouble(3), r.getString(4))).toList shouldEqual
        List((0, List(1.0, 3.0), 3.5, 0.5, "otel_exp_histogram"))
    } finally neg.stop(0)
  }

  test("a corpus load stores the same rows as a sync remote-write of its " +
       "series: plain, stale marker, NHCB and one-sample exp") {
    import graft.promql.TestCorpus
    val loads = TestCorpus.parse(
      """load 1m
        |  par_plain{job="a"} 1 2 _ 4
        |  par_stale{job="a"} 1 stale
        |  par_nhcb{job="a"} {{schema:-53 custom_values:[1 5] buckets:[2 3 1] count:6 sum:9}}
        |  par_exp{job="a"} {{schema:0 sum:10 count:5 buckets:[1 2 1] offset:1 z_bucket:1 z_bucket_w:0.5}}
        |""".stripMargin).collect { case l: TestCorpus.Load => l }
    val cols = Seq("metric", "tags", "ts", "value", "__stale", "le", "values",
      "hist_sum", "exp_scale", "exp_offset", "exp_counts", "exp_zero_count",
      "exp_zero_threshold", "exp_sum", "series_type")
    def stored(df: DataFrame): Seq[String] =
      df.select(cols.map {
          case "tags" => array_sort(map_entries(col("tags"))).as("tags")
          case "ts" => col("ts").cast("long").as("ts")
          case c => col(c)
        }: _*)
        .collect().map(_.toString).toSeq.sorted
    val viaCorpus = stored(graft.streaming.SpoolDrain.storedFrame(spark,
      TestCorpus.wireSeries(loads)))
    val dir = tmp("graft-corpus-parity")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg)
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws)).start()
    try RemoteRead.remoteWriteSeries(TestCorpus.wireSeries(loads),
      s"http://localhost:${api.boundPort}")
    finally api.stop()
    val viaIngest = stored(spark.read.option("mergeSchema", "true").parquet(s"$dir/sink"))
    viaCorpus.size shouldEqual 7 // 3 plain + 1 sample and 1 marker + NHCB + exp
    viaCorpus shouldEqual viaIngest
    // the literals map onto the wire as upstream reads them
    viaCorpus.filter(_.startsWith("[par_exp,")).head should include(
      "0,0,ArraySeq(1.0, 2.0, 1.0),1.0,0.5,10.0,otel_exp_histogram")
    viaCorpus.filter(_.startsWith("[par_nhcb,")).head should include(
      "ArraySeq(1.0, 5.0, Infinity),ArraySeq(2.0, 5.0, 6.0),9.0")
  }

  // ===== staleness markers (upstream pkg/value StaleNaN) ==================

  test("StaleNaN wire bits: v1/v2 samples and histogram sums decode to the " +
       "stale flag, re-encode bit-exactly, and ordinary NaN stays ordinary") {
    val marker = ProtoWire.PSample(Double.NaN, 30L, stale = true)
    val plainNaN = ProtoWire.PSample(Double.NaN, 40L)
    val s1 = ProtoWire.PSeries(Seq("__name__" -> "m"),
      Seq(ProtoWire.PSample(1.0, 10L), marker, plainNaN))
    // v1 round trip
    val v1 = ProtoWire.decodeWriteRequest(ProtoWire.encodeWriteRequest(Seq(s1)))
    v1.head.samples.map(_.stale) shouldEqual Seq(false, true, false)
    v1.head.samples(1).value.isNaN shouldEqual true
    v1.head.samples(2).value.isNaN shouldEqual true
    // v2 round trip
    val (v2, _) = ProtoWire.decodeWriteRequestV2(
      ProtoWire.encodeWriteRequestV2(Seq(s1)))
    v2.head.samples.map(_.stale) shouldEqual Seq(false, true, false)
    // a native-histogram target-down marker rides the SUM field
    val hm = ProtoWire.PHistogram(50L, 0, 0.0, 0.0, 0.0, Double.NaN, 0,
      0, Nil, 0, Nil, stale = true)
    val hBack = ProtoWire.decodeWriteRequest(ProtoWire.encodeWriteRequest(
      Seq(ProtoWire.PSeries(Seq("__name__" -> "h"), Nil, histograms = Seq(hm)))))
    hBack.head.histograms.head.stale shouldEqual true
  }

  test("target-down end to end: a remote-written marker lands as a __stale " +
       "tombstone through hwm/quota/sink, hides the series from instant " +
       "queries and /federate while range vectors still answer, and the " +
       "downsample path drops it") {
    import graft.promql.PromPlanner
    val dir = tmp("graft-stale")
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg)
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws)).start()
    try {
      val url = s"http://localhost:${api.boundPort}"
      def s(job: String, samples: Seq[ProtoWire.PSample]) =
        ProtoWire.PSeries(Seq("__name__" -> "m", "job" -> job), samples)
      // job=a dies after t=20s: its sender appends the marker at 30s.
      // Post the marker chunk twice — the hwm must no-op the replay.
      val chunk1 = Seq(
        s("a", Seq(ProtoWire.PSample(1.0, 10000L), ProtoWire.PSample(2.0, 20000L),
          ProtoWire.PSample(0.0, 30000L, stale = true))),
        s("b", Seq(ProtoWire.PSample(5.0, 10000L), ProtoWire.PSample(6.0, 20000L))))
      RemoteRead.remoteWriteSeries(chunk1, url)
      RemoteRead.remoteWriteSeries(Seq(
        s("b", Seq(ProtoWire.PSample(7.0, 30000L), ProtoWire.PSample(8.0, 40000L)))), url)
      RemoteRead.remoteWriteSeries(chunk1, url) // sender retry
      val sunk = spark.read.option("mergeSchema", "true").parquet(s"$dir/sink")
      // exactly one marker row landed (the replay no-op'd), value NaN
      val markers = sunk.filter(coalesce(col("__stale"), lit(false))).collect()
      markers.length shouldEqual 1
      markers.head.getAs[Double]("value").isNaN shouldEqual true
      def instant(at: Long): Map[String, Double] =
        PromPlanner.queryRange(
          PromPlanner.Ctx(spark, sunk, at, at, 1000L, lookbackMs = 25000L), "m")
          .select(col("labels")("job"), col("value")).collect()
          .map(r => r.getString(0) -> r.getDouble(1)).toMap
      // before the marker both series answer; after it job=a is cut even
      // though its 20s sample is still inside the 25s lookback
      instant(25000L) shouldEqual Map("a" -> 2.0, "b" -> 6.0)
      instant(35000L) shouldEqual Map("b" -> 7.0)
      // range vectors never see the marker: count_over_time keeps 2
      PromPlanner.queryRange(
        PromPlanner.Ctx(spark, sunk, 35000L, 35000L, 1000L),
        """count_over_time(m{job="a"}[30s])""")
        .select("value").head().getDouble(0) shouldEqual 2.0
      // /federate at 35s with a 25s lookback: job=b only
      val readApi = new PromApi(spark, sunk).start()
      try {
        val fed = new String(new java.net.URI(
          s"http://localhost:${readApi.boundPort}/federate?match[]=m" +
            "&time=35&lookback_delta=25s").toURL.openStream().readAllBytes(), "UTF-8")
        fed.contains("job=\"b\"") shouldEqual true
        fed.contains("job=\"a\"") shouldEqual false
      } finally readApi.stop()
      // downsample: the marker contributes nothing to ds-gauge windows
      // (one NaN would otherwise poison max/sum of the whole window)
      val ds = Ingest.downsample(
        sunk.withColumn("user", col("tags")("job")), "1 minute",
        seriesCols = Seq("metric", "user"))
        .filter(col("user") === "a")
        .select("count", "max", "sum").collect()
      ds.length shouldEqual 1
      (ds.head.getDouble(0), ds.head.getDouble(1), ds.head.getDouble(2)) shouldEqual
        ((2.0, 2.0, 3.0))
      // FORWARDING (federation data-ship): pushing the frame onward
      // re-encodes the tombstone as the StaleNaN wire bits — a downstream
      // store must get marker semantics, not a plain NaN sample
      val dir2 = tmp("graft-stale-fwd")
      val ws2 = PromApi.WriteSink(s"$dir2/sink", s"$dir2/index", s"$dir2/reject", cfg)
      val api2 = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws2)).start()
      try {
        RemoteRead.remoteWrite(sunk, s"http://localhost:${api2.boundPort}")
        val fwd = spark.read.option("mergeSchema", "true").parquet(s"$dir2/sink")
        fwd.filter(coalesce(col("__stale"), lit(false))).count() shouldEqual 1L
      } finally api2.stop()
    } finally api.stop()
  }

  test("sync and spool modes store identical rows for one payload mix: " +
       "samples, a StaleNaN marker, exponential and NHCB native histograms, " +
       "exemplars, RW2 inline metadata and an OTLP gauge with a descriptor") {
    val v1 = ProtoWire.encodeWriteRequest(Seq(
      ProtoWire.PSeries(Seq("__name__" -> "mix_plain", "job" -> "j"),
        Seq(ProtoWire.PSample(1.0, 1000L), ProtoWire.PSample(2.0, 2000L),
          ProtoWire.PSample(Double.NaN, 3000L, stale = true)),
        exemplars = Seq(ProtoWire.PExemplar(Seq("trace_id" -> "t1"), 1.5, 1500L))),
      ProtoWire.PSeries(Seq("__name__" -> "mix_exp"), Nil, histograms = Seq(
        hist(1000L, Seq(1.0, 2.0)), hist(2000L, Seq(3.0, 5.0))))))
    val v2 = ProtoWire.encodeWriteRequestV2(Seq(
      ProtoWire.PSeries(Seq("__name__" -> "mix_nhcb"), Nil, histograms = Seq(
        nhcb(1000L, Seq(2.0, 3.0, 1.0), Seq(1.0, 5.0, 10.0), sumV = 18.0))),
      ProtoWire.PSeries(Seq("__name__" -> "mix_v2", "job" -> "j"),
        Seq(ProtoWire.PSample(5.0, 1000L)))),
      Map("mix_v2" -> (("gauge", "A v2 gauge.", "bytes"))))
    val otlp = OtlpWire.encodeExportRequest(Seq("service.name" -> "shop"), Seq(
      OtlpWire.EncMetric("mix_otlp", description = "An OTLP gauge.", kind = "gauge",
        points = Seq((Seq("core" -> "0"), 1000L, 0.5, 0)))))
    def post(url: String, ctype: String, body: Array[Byte]): Int =
      java.net.http.HttpClient.newHttpClient().send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
          .header("Content-Type", ctype)
          .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode()
    /** every stored row of one store, batch_id dropped, maps as sorted
      * entries. A commit without a marker writes no `__stale` column (the
      * sink's column-presence contract), so absent reads as false: sync
      * mode commits the three payloads apart, the drain as one window. */
    def stored(df: DataFrame): Seq[String] =
      df.select(df.schema.fields.filter(_.name != "batch_id").sortBy(_.name).map { f =>
          f.dataType match {
            case _: org.apache.spark.sql.types.MapType =>
              array_sort(map_entries(col(f.name))).as(f.name)
            case _ if f.name == "__stale" => coalesce(col(f.name), lit(false)).as(f.name)
            case _ => col(f.name)
          }
        }: _*)
        .collect().map(_.toString).toSeq.sorted
    def read(path: String) = stored(spark.read.option("mergeSchema", "true").parquet(path))
    def run(spool: Boolean): Seq[Seq[String]] = {
      val dir = tmp(if (spool) "graft-parity-spool" else "graft-parity-sync")
      val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg,
        exemplarDir = Some(s"$dir/ex"))
      val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
        metadataDir = Some(s"$dir/meta"),
        spoolDrainMs = if (spool) 3600000L else 0L).start()
      try {
        val base = s"http://localhost:${api.boundPort}"
        post(s"$base/api/v1/write", "application/x-protobuf",
          org.xerial.snappy.Snappy.compress(v1)) shouldEqual 204
        post(s"$base/api/v1/write",
          "application/x-protobuf;proto=io.prometheus.write.v2.Request",
          org.xerial.snappy.Snappy.compress(v2)) shouldEqual 204
        post(s"$base/api/v1/otlp/v1/metrics", "application/x-protobuf", otlp) shouldEqual 200
        if (spool) api.drainSpool() shouldEqual 3
      } finally api.stop()
      Seq(read(s"$dir/sink"), read(s"$dir/index"), read(s"$dir/ex"),
        stored(Ingest.readMetricMeta(spark, s"$dir/meta").get))
    }
    val Seq(sink, index, ex, meta) = run(spool = false)
    sink.size shouldEqual 8 // 3 plain + 2 exp + 1 NHCB + 1 v2 + 1 OTLP
    ex.size shouldEqual 1
    meta.exists(_.contains("A v2 gauge.")) shouldBe true
    meta.exists(_.contains("An OTLP gauge.")) shouldBe true
    run(spool = true) shouldEqual Seq(sink, index, ex, meta)
  }
}
