package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.http.ProtoWire
import graft.streaming.SpoolDrain

/** The executor-side spool decode in isolation: row-builder semantics
  * (the contract BOTH ingest modes share), corrupt-file outcome headers,
  * window-flag aggregation, and the plan shape of the distributed decode
  * (a narrow scan + flatMap — no shuffle; at 100-TB ingest an exchange
  * here would re-ship every acked byte). End-to-end drain behavior is
  * covered by RemoteWriteSpec/PromApiSpec over live HTTP. */
class SpoolDrainSpec extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = GraftSession.builder("local[4]", "4").getOrCreate()

  private def series(name: String): ProtoWire.PSeries = ProtoWire.PSeries(
    Seq("__name__" -> name, "instance" -> "0"),
    Seq(ProtoWire.PSample(1.5, 1000L), ProtoWire.PSample(2.5, 2000L)))

  test("seriesRows canonicalization: plain samples, staleness markers, " +
       "exp offset shift, NHCB cumulate, exemplars — one row kind each") {
    val s = ProtoWire.PSeries(
      labels = Seq("__name__" -> "m", "job" -> "j"),
      samples = Seq(ProtoWire.PSample(7.0, 1000L),
        ProtoWire.PSample(Double.NaN, 2000L, stale = true)),
      histograms = Seq(
        // exponential: offset shifts by one into exp storage; negative
        // bucket mass folds into the zero bucket
        ProtoWire.PHistogram(3000L, schema = 0, zeroThreshold = 0.5,
          zeroCount = 2.0, count = 6.0, sum = 12.0, resetHint = 0,
          posOffset = 1, posCounts = Seq(1.0, 2.0),
          negOffset = 0, negCounts = Seq(1.0)),
        // NHCB: per-bucket counts cumulate across the bounds; +Inf entry
        // is the wire's authoritative count
        ProtoWire.PHistogram(4000L, schema = -53, zeroThreshold = 0,
          zeroCount = 0, count = 5.0, sum = 9.0, resetHint = 0,
          posOffset = 0, posCounts = Seq(2.0, 2.0),
          negOffset = 0, negCounts = Nil, customValues = Seq(1.0, 5.0))),
      exemplars = Seq(ProtoWire.PExemplar(Seq("trace_id" -> "t1"), 0.25, 1500L)))
    val rows = SpoolDrain.seriesRows(s)
    rows.map(_.kind).sorted shouldEqual Seq(0, 0, 1, 2, 3)
    val plain = rows.filter(r => r.kind == 0 && !r.stale).head
    plain.metric shouldEqual "m"
    plain.tags shouldEqual Map("job" -> "j")
    plain.value shouldEqual Some(7.0)
    val marker = rows.filter(r => r.kind == 0 && r.stale).head
    marker.value.get.isNaN shouldBe true
    val exp = rows.filter(_.kind == 1).head
    exp.expOffset shouldEqual Some(0) // posOffset 1 - 1
    exp.expZeroCount shouldEqual Some(3.0) // zero 2 + neg mass 1
    exp.expCounts shouldEqual Seq(1.0, 2.0)
    val nhcb = rows.filter(_.kind == 2).head
    nhcb.le shouldEqual Seq(1.0, 5.0, Double.PositiveInfinity)
    nhcb.values shouldEqual Seq(2.0, 4.0, 5.0) // cumulative; +Inf = count
    nhcb.seriesType shouldEqual "prom_histogram"
    val ex = rows.filter(_.kind == 3).head
    ex.exLabels shouldEqual Map("trace_id" -> "t1")
    ex.ts shouldEqual 1500L
  }

  test("storedFrame: columns only for the shapes present; exp rows typed " +
       "otel_exp_histogram, without the transient __reset_hint; an NHCB " +
       "span overrunning its bounds fails naming the series") {
    SpoolDrain.storedFrame(spark, Seq(series("p"))).columns.toSeq shouldEqual
      Seq("metric", "tags", "ts", "value")
    val withExp = SpoolDrain.storedFrame(spark, Seq(series("p"),
      ProtoWire.PSeries(Seq("__name__" -> "e"), Nil, histograms = Seq(
        ProtoWire.PHistogram(1000L, schema = 0, zeroThreshold = 0.0, zeroCount = 0.0,
          count = 1.0, sum = 1.0, resetHint = 2, posOffset = 1, posCounts = Seq(1.0),
          negOffset = 0, negCounts = Nil)))))
    withExp.columns.toSeq shouldEqual Seq("metric", "tags", "ts", "value",
      "exp_scale", "exp_offset", "exp_counts", "exp_zero_count",
      "exp_zero_threshold", "exp_sum", "series_type")
    withExp.select("metric", "series_type").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet shouldEqual
      Set(("p", null), ("e", "otel_exp_histogram"))
    val ex = intercept[IllegalArgumentException] {
      SpoolDrain.storedFrame(spark, Seq(series("p"),
        ProtoWire.PSeries(Seq("__name__" -> "overrun"), Nil, histograms = Seq(
          ProtoWire.PHistogram(1000L, schema = -53, zeroThreshold = 0.0,
            zeroCount = 0.0, count = 2.0, sum = 1.0, resetHint = 0, posOffset = 1,
            posCounts = Seq(1.0, 1.0), negOffset = 0, negCounts = Nil,
            customValues = Seq(1.0))))))
    }
    ex.getMessage should include("overrun")
  }

  test("decodeFile: an ok file leads with a kind-6 header carrying series/" +
       "sample counts; a corrupt body yields ONLY the kind-5 header") {
    val good = ProtoWire.encodeWriteRequest(Seq(series("a"), series("b")))
    val ok = SpoolDrain.decodeFile("/spool/7.wr", good)
    ok.head.kind shouldEqual 6
    ok.head.seriesN shouldEqual 2L
    ok.head.samplesN shouldEqual 4L
    ok.head.path shouldEqual "/spool/7.wr"
    ok.count(_.kind == 0) shouldEqual 4
    // a v2 body published as .wr2 decodes with the v2 codec (symbol table)
    val v2 = ProtoWire.encodeWriteRequestV2(Seq(series("c")),
      Map("c" -> (("counter", "help text", "s"))))
    val okV2 = SpoolDrain.decodeFile("/spool/8.wr2", v2)
    okV2.head.seriesN shouldEqual 1L
    okV2.count(_.kind == 4) shouldEqual 1 // inline metadata row
    okV2.filter(_.kind == 4).head.mTyp shouldEqual "counter"
    val bad = SpoolDrain.decodeFile("/spool/9.wr2", Array[Byte](1, 2, 3))
    bad.map(_.kind) shouldEqual Seq(5)
    bad.head.path shouldEqual "/spool/9.wr2"
  }

  test("per-series quarantine (kind 7): one malformed NHCB series drops " +
       "ALONE — its payload-mates land, the header counts only the good " +
       "series, and windowFlags surfaces the bad-series count") {
    // custom-bound histogram whose bucket offset overruns its bounds list:
    // decodes fine at the wire layer, fails canonicalization
    val badHist = ProtoWire.PHistogram(1000L, schema = -53, zeroThreshold = 0,
      zeroCount = 0, count = 1.0, sum = 1.0, resetHint = 0,
      posOffset = 7, posCounts = Seq(1.0), negOffset = 0, negCounts = Nil,
      customValues = Seq(1.0))
    val bad = ProtoWire.PSeries(Seq("__name__" -> "bad_h"), Nil,
      histograms = Seq(badHist))
    val body = ProtoWire.encodeWriteRequest(Seq(series("a"), bad, series("b")))
    val rows = SpoolDrain.decodeFile("/spool/3.wr", body)
    rows.head.kind shouldEqual 6 // file-level outcome is still OK
    rows.head.seriesN shouldEqual 2L // good series only
    rows.head.samplesN shouldEqual 4L
    rows.count(_.kind == 0) shouldEqual 4 // both mates' samples present
    val k7 = rows.filter(_.kind == 7)
    k7.map(_.metric) shouldEqual Seq("bad_h")
    k7.head.path shouldEqual "/spool/3.wr"
    // through the distributed window aggregate
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("spoolbadseries").toString
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(s"$dir/0.wr")
    val out = fs.create(p, true)
    try out.write(body) finally out.close()
    val decoded = SpoolDrain
      .decodedFrame(spark, Seq(p.toString -> body.length.toLong)).persist()
    try {
      val flags = SpoolDrain.windowFlags(decoded)
      flags.badSeries shouldEqual 1L
      flags.badPaths shouldBe empty // NOT a whole-file quarantine
      flags.seriesTotal shouldEqual 2L
      // the canonical frame carries only the mates (kind 7 is outcome-only)
      SpoolDrain.assembleCanonical(decoded, anyStale = false, anyTyped = false,
        hasExp = false, hasNhcb = false).count() shouldEqual 4L
    } finally { decoded.unpersist(); () }
  }

  test("distributed decode: windowFlags aggregates outcomes in one pass " +
       "and the decode plan has NO shuffle (scan -> flatMap only)") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("spooldecode").toString
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def put(name: String, b: Array[Byte]): (String, Long) = {
      val p = new Path(s"$dir/$name")
      val out = fs.create(p, true)
      try out.write(b) finally out.close()
      p.toString -> b.length.toLong
    }
    val p1 = put("0.wr", ProtoWire.encodeWriteRequest(Seq(series("a"))))
    val p2 = put("1.wr2", ProtoWire.encodeWriteRequestV2(Seq(
      series("b").copy(exemplars = Seq(ProtoWire.PExemplar(Nil, 1.0, 1000L))))))
    val p3 = put("2.wr", Array[Byte](9, 9, 9)) // corrupt
    val decoded = SpoolDrain.decodedFrame(spark, Seq(p1, p2, p3)).persist()
    try {
      val plan = decoded.queryExecution.executedPlan.toString
      plan should not include "Exchange" // decode never re-ships the bytes
      val flags = SpoolDrain.windowFlags(decoded)
      flags.seriesTotal shouldEqual 2L
      flags.samplesTotal shouldEqual 4L
      flags.badPaths.map(u => new Path(u).getName) shouldEqual Seq("2.wr")
      flags.hasExemplars shouldBe true
      flags.hasExp shouldBe false
      flags.hasNhcb shouldBe false
      flags.anyStale shouldBe false
      flags.anyTyped shouldBe false
      // the canonical assembly of a plain-only window: exactly the
      // untyped, marker-free column set (the sink plan-shape contract)
      val canonical = SpoolDrain.assembleCanonical(decoded,
        anyStale = false, anyTyped = false, hasExp = false, hasNhcb = false)
      canonical.columns.toSeq shouldEqual Seq("metric", "tags", "ts", "value")
      canonical.count() shouldEqual 4L
    } finally { decoded.unpersist(); () }
  }

  test("decode of a 40-file window (above Spark's 32-path parallel listing " +
       "threshold) runs ONE job: the drain's own listing feeds the tasks, " +
       "no file-listing job lists the paths again") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = java.nio.file.Files.createTempDirectory("spoolnolisting").toString
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = (0 until 40).map { i =>
      val p = new Path(s"$dir/$i.wr")
      val b = ProtoWire.encodeWriteRequest(Seq(series(s"m$i")))
      val out = fs.create(p, true)
      try out.write(b) finally out.close()
      p.toString -> b.length.toLong
    }
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .flatMap(Option(_)).getOrElse("none"))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("spool-decode-40", "decode")
      val rows = try SpoolDrain.decodedFrame(spark, files).collect()
                 finally sc.clearJobGroup()
      rows.count(_.kind == 6) shouldEqual 40
      rows.count(_.kind == 0) shouldEqual 80
      // listener events arrive in order: once a later job's start is seen,
      // every job the decode started has been counted
      sc.setJobGroup("spool-decode-sentinel", "sentinel")
      try spark.range(1).collect() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000L
      while (!groups.contains("spool-decode-sentinel") &&
             System.currentTimeMillis() < deadline) Thread.sleep(20)
      groups.contains("spool-decode-sentinel") shouldBe true
      groups.toArray.count(_ == "spool-decode-40") shouldEqual 1
    } finally sc.removeSparkListener(listener)
  }
}
