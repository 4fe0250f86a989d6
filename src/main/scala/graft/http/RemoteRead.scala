package graft.http

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import graft.model.SeriesKey
import graft.promql.{Parser, Printer, PromPlanner}

/** HTTP federation read (the reference's PromQlRemoteExec semantics,
  * query/.../exec/PromQlRemoteExec.scala:1-288): evaluate a PromQL query on
  * a REMOTE cluster through its `/api/v1/query_range` endpoint and expose
  * the response as a DataFrame in the engine's canonical result shape
  * (labels, __key, step_ts, value), so it unions with local results.
  *
  * The query string shipped to the remote is produced by the pretty-printer
  * from the parsed AST — the plan→query shipping surface — exactly how the
  * reference's partition/HA planners re-enter remote clusters. The fetched
  * body is decoded by Spark's JSON reader (not hand-rolled parsing); remote
  * responses are already aggregated/stepped result sets, never raw samples,
  * so the driver-side fetch mirrors the reference's materialization there.
  */
object RemoteRead {

  private val respSchema: StructType = DataType.fromDDL(
    """status STRING, errorType STRING, error STRING,
       data STRUCT<resultType: STRING,
                   result: ARRAY<STRUCT<metric: MAP<STRING,STRING>,
                                        values: ARRAY<ARRAY<STRING>>>>>"""
  ).asInstanceOf[StructType]

  /** One federated range read: GET the remote's query_range and decode to
    * (labels, __key, step_ts, value). `seriesLimit` rides along as the
    * API's `limit` param, making the remote ERROR (never truncate) past
    * the cap — the client-side bound on what a shipped query may
    * materialize on this driver. */
  def queryRange(spark: SparkSession, baseUrl: String, query: String,
                 startMs: Long, endMs: Long, stepMs: Long,
                 seriesLimit: Option[Int] = None): DataFrame = {
    // parse→print: ship the canonical rendering of the plan, not the raw
    // user string (and fail fast on queries we couldn't re-enter remotely)
    val shipped = Printer.print(Parser.parse(query))
    val url = s"$baseUrl/api/v1/query_range?query=${URLEncoder.encode(shipped, "UTF-8")}" +
      s"&start=${startMs / 1000.0}&end=${endMs / 1000.0}&step=${stepMs / 1000.0}" +
      seriesLimit.map(l => s"&limit=$l").getOrElse("")
    val body = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()

    import spark.implicits._
    val parsed = spark.read.schema(respSchema).json(Seq(body).toDS())
    val head = parsed.select(col("status"), col("error")).head()
    if (head.getString(0) != "success")
      throw new IllegalStateException(s"remote $baseUrl: ${head.getString(1)}")

    parsed.select(explode(col("data.result")).as("r"))
      .select(col("r.metric").as("labels"), explode(col("r.values")).as("v"))
      .select(col("labels"),
        (element_at(col("v"), 1).cast("double") * 1000).cast("long").as("step_ts"),
        element_at(col("v"), 2).cast("double").as("value"))
      .withColumn("__key", SeriesKey.key(col("labels")))
      .select(col("labels"), col("__key"), col("step_ts"), col("value"))
  }

  /** Prometheus REMOTE-READ client: POST a snappy-compressed protobuf
    * ReadRequest for a PromQL SELECTOR (instant-vector syntax — metric +
    * matchers; windows/offsets are meaningless for a raw-sample fetch and
    * rejected) and decode the ReadResponse back into the engine's
    * CANONICAL samples shape (metric, tags, ts, value) — so a remote
    * cluster's raw series can seed a local [[PromPlanner.Ctx]] and be
    * re-evaluated locally (the complement of [[queryRange]]'s
    * ship-the-query federation: this ships the DATA). Wire format per
    * [[ProtoWire]]; the route is a functional-testing surface in the
    * reference too, so result sets are presentation-bounded — and
    * BOUNDED HERE by construction: the range fetches in `chunkMs` time
    * windows (one POST each, so no single response materializes a wide
    * range at once) under a hard `maxSamples` cap that ERRORS — never
    * truncates — the moment the decoded total crosses it. A federated
    * raw-selector fetch over an unbounded range fails fast instead of
    * exhausting the driver.
    *
    * The fetched series take the stored shape through ingest's own rules
    * ([[graft.streaming.SpoolDrain.storedFrame]]); exp rows arrive as the
    * server's per-interval deltas, so the round trip is lossless. A series
    * ingest would reject (an NHCB span overrunning its bounds) fails the
    * read with an IllegalArgumentException naming it. */
  def remoteRead(spark: SparkSession, baseUrl: String, selector: String,
                 startMs: Long, endMs: Long,
                 chunkMs: Long = 6L * 3600 * 1000,
                 maxSamples: Long = 10000000L): DataFrame = {
    import graft.promql.{MatchOp, Selector}
    require(chunkMs > 0, "chunkMs must be positive")
    val sel = Parser.parse(selector) match {
      case s: Selector if s.windowMs.isEmpty && s.offsetMs == 0L && s.atMs.isEmpty => s
      case _: Selector => throw new IllegalArgumentException(
        "remote read takes a plain instant selector (no window/offset/@)")
      case _ => throw new IllegalArgumentException(
        s"remote read needs a selector, got: $selector")
    }
    val typOf = Map[MatchOp, Int](MatchOp.Eq -> 0, MatchOp.Ne -> 1,
      MatchOp.Re -> 2, MatchOp.NotRe -> 3)
    val matchers =
      sel.metric.map(m => ProtoWire.PMatcher(0, "__name__", m)).toSeq ++
        sel.matchers.map(m => ProtoWire.PMatcher(typOf(m.op), m.label, m.value))
    val client = HttpClient.newHttpClient()
    val series = Seq.newBuilder[ProtoWire.PSeries]
    var total = 0L
    // inclusive-bound windows [s, s + chunkMs - 1]; the server's range
    // filter is inclusive both ends, so adjacent chunks never overlap
    var s = startMs
    while (s <= endMs) {
      val e = math.min(s + chunkMs - 1, endMs)
      val reqBytes = org.xerial.snappy.Snappy.compress(
        ProtoWire.encodeReadRequest(ProtoWire.PReadRequest(
          Seq(ProtoWire.PQuery(s, e, matchers)))))
      val httpResp = client.send(
        HttpRequest.newBuilder(URI.create(s"$baseUrl/api/v1/read"))
          .header("Content-Type", "application/x-protobuf")
          .header("Content-Encoding", "snappy")
          .POST(HttpRequest.BodyPublishers.ofByteArray(reqBytes)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      if (httpResp.statusCode() != 200)
        throw new IllegalStateException(
          s"remote $baseUrl: HTTP ${httpResp.statusCode()} " +
            new String(httpResp.body(), java.nio.charset.StandardCharsets.UTF_8))
      val results = ProtoWire.decodeReadResponse(
        org.xerial.snappy.Snappy.uncompress(httpResp.body()))
      results.headOption.getOrElse(Nil).foreach { ser =>
        total += ser.samples.length + ser.histograms.length
        if (total > maxSamples)
          throw new IllegalStateException(
            s"remote read exceeds the $maxSamples-sample cap at window " +
              s"[$s, $e] — narrow the selector or range, or raise maxSamples")
        series += ser
      }
      s = e + 1
    }
    graft.streaming.SpoolDrain.storedFrame(spark, series.result())
  }

  /** Prometheus remote-WRITE client: POST canonical (metric, tags, ts,
    * value) rows to a cluster's `/api/v1/write` as one snappy-compressed
    * protobuf WriteRequest — the push half of the federation story
    * (cluster A replicates into cluster B over the standard Prometheus
    * wire). The frame collects at the driver: remote-write payloads are
    * batch-sized by contract (a scrape interval's worth), and
    * `maxSamples` fails loudly — never truncates — if a caller points a
    * corpus-scale frame at it. Returns the number of samples shipped. */
  def remoteWrite(df: DataFrame, baseUrl: String, maxSamples: Long = 1000000L): Long = {
    // staleness-marker tombstones forward as the StaleNaN wire bits, not
    // as plain NaN samples — a downstream graft (or Prometheus) must see
    // the marker semantics, and a plain NaN would merely be no-data to
    // range vectors without cutting the instant lookback
    val stale =
      if (df.columns.contains("__stale")) coalesce(col("__stale"), lit(false))
      else lit(false)
    val slim = df.select(col("metric"), col("tags"),
      col("ts").cast("long"), col("value").cast("double"), stale.as("__st"))
    val rows = slim.limit((maxSamples + 1).min(Int.MaxValue).toInt).collect()
    if (rows.length > maxSamples)
      throw new IllegalStateException(
        s"remote write exceeds the per-request cap of $maxSamples samples — " +
          "chunk the frame (remote-write is a batch wire, not a bulk loader)")
    val series = rows
      .groupBy(r => (r.getString(0), r.getMap[String, String](1).toSeq.sortBy(_._1)))
      .toSeq
      .map { case ((metric, tags), rs) =>
        ProtoWire.PSeries(
          (("__name__" -> metric) +: tags).sortBy(_._1),
          rs.map(r => ProtoWire.PSample(r.getDouble(3), r.getLong(2),
              stale = r.getBoolean(4)))
            .sortBy(_.ts).toSeq)
      }
      .sortBy(_.labels.mkString)
    remoteWriteSeries(series, baseUrl)
    rows.length.toLong
  }

  /** Raw-series remote-write client: POST already-built [[ProtoWire
    * .PSeries]] (with native histograms and/or exemplars attached) as one
    * snappy-compressed WriteRequest — what a Prometheus v2.40+ with
    * native histograms enabled pushes. Throws on any non-2xx. */
  def remoteWriteSeries(series: Seq[ProtoWire.PSeries], baseUrl: String): Unit = {
    val body = org.xerial.snappy.Snappy.compress(
      ProtoWire.encodeWriteRequest(series))
    val resp = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"$baseUrl/api/v1/write"))
        .header("Content-Type", "application/x-protobuf")
        .header("Content-Encoding", "snappy")
        .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.ofByteArray())
    if (resp.statusCode() / 100 != 2)
      throw new IllegalStateException(
        s"remote $baseUrl: HTTP ${resp.statusCode()} " +
          new String(resp.body(), java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Federated evaluation (reference MultiPartitionPlanner/DistConcat
    * stitch): the query runs locally AND on every remote, results union by
    * name. Correct when the series sets are partition-disjoint across
    * clusters (the reference's partitioning contract); cross-cluster
    * aggregation pushdown is the caller's concern, as there. */
  def federatedQueryRange(ctx: PromPlanner.Ctx, query: String,
                          remoteBaseUrls: Seq[String]): DataFrame = {
    val local = PromPlanner.queryRange(ctx, query)
    val remote = remoteBaseUrls.map(u =>
      queryRange(ctx.spark, u, query, ctx.startMs, ctx.endMs, ctx.stepMs))
    (local +: remote).reduce(_ unionByName _)
  }

  /** HA replica failover (reference HighAvailabilityPlanner,
    * coordinator/.../queryplanner/HighAvailabilityPlanner.scala): the same
    * dataset is ingested by redundant replicas; a query tries them in
    * preference order and the first healthy response wins — connect
    * failures and error envelopes fall through to the next. The reference
    * additionally stitches AROUND known per-replica downtime windows
    * (querying the healthy replica only for the affected subrange); this
    * engine keeps whole-range failover and leaves subrange stitching to
    * [[federatedQueryRange]] over explicitly time-filtered contexts. */
  def haQueryRange(spark: SparkSession, replicaBaseUrls: Seq[String], query: String,
                   startMs: Long, endMs: Long, stepMs: Long): DataFrame = {
    require(replicaBaseUrls.nonEmpty, "need at least one replica")
    val errs = Seq.newBuilder[String]
    for (u <- replicaBaseUrls) { // first success short-circuits
      scala.util.Try(queryRange(spark, u, query, startMs, endMs, stepMs)) match {
        case scala.util.Success(df) => return df
        case scala.util.Failure(e) => errs += s"$u: ${e.getMessage}"
      }
    }
    throw new IllegalStateException(
      s"all replicas failed — ${errs.result().mkString("; ")}")
  }

  /** The reference HighAvailabilityPlanner's FULL behavior: given each
    * replica's known DOWNTIME windows (its FailureProvider), split the
    * query range at step boundaries so every step evaluates on the first
    * replica that was healthy then, ONE remote call per replica (covering
    * all its runs, filtered back to them), results unioned. A step all
    * replicas were
    * down for is simply absent, like the reference's empty partial
    * results. Splits stay ON the step grid (subrange starts are
    * start + k*step) so every replica evaluates the same aligned steps.
    *
    * Health is window-aware: each downtime window is EXTENDED forward by
    * the query's maximum selector reach (window/lookback + offsets,
    * subqueries compounding — [[PromPlanner.maxSelectorReachMs]]), so a
    * step just after an outage — whose range function would read samples
    * from inside it and silently return a partial window — falls through
    * to a replica that was healthy across the whole read interval.
    * `replicas`: (baseUrl, downtime windows [fromMs, toMs] inclusive). */
  def haStitchedQueryRange(spark: SparkSession,
                           replicas: Seq[(String, Seq[(Long, Long)])], query: String,
                           startMs: Long, endMs: Long, stepMs: Long,
                           lookbackMs: Long = PromPlanner.DefaultLookbackMs): DataFrame = {
    require(replicas.nonEmpty, "need at least one replica")
    // reach computed on the RESOLVED ast — an unresolved Ni window has no
    // ms value and would silently contribute only the lookback
    val ast = PromPlanner.resolveStepDurations(Parser.parse(query), stepMs)
    val reach = PromPlanner.maxSelectorReachMs(ast, lookbackMs)
    val fwd = PromPlanner.maxSelectorForwardMs(ast)
    // @-pinned reads are ABSOLUTE (every step reads the same interval) —
    // a replica whose downtime intersects one is unhealthy at ALL steps
    val atIv = PromPlanner.atReadIntervalsMs(ast, lookbackMs, startMs, endMs)
    def atHit(r: Seq[(Long, Long)]): Boolean =
      r.exists { case (a, b) => atIv.exists { case (s0, e0) => s0 <= b && e0 >= a } }
    def healthyAt(r: Seq[(Long, Long)], t: Long): Boolean =
      !atHit(r) && !r.exists { case (a, b) => t >= a - fwd && t <= b + reach }
    val steps = (startMs to endMs by stepMs)
    val choice: Seq[(Long, Option[Int])] = steps.map { t =>
      t -> replicas.indices.find(i => healthyAt(replicas(i)._2, t))
    }
    // contiguous runs of the same replica choice; then ONE remote call per
    // REPLICA over the span of its runs, filtered back to the run steps.
    // Sound because evaluation is per-step (every subrange start stays on
    // the original step grid, and a step's value depends only on the query
    // and its own read interval, not on the requested range's bounds) —
    // under adversarial alternating downtime the old one-call-per-run
    // degenerated toward one serialized fetch per step.
    val runs = choice.foldLeft(List.empty[(Option[Int], Long, Long)]) {
      case ((r, s, e) :: rest, (t, c)) if c == r => (r, s, t) :: rest
      case (acc, (t, c)) => (c, t, t) :: acc
    }.reverse
    val byReplica = runs.collect { case (Some(i), s, e) => (i, s, e) }
      .groupBy(_._1).toSeq.sortBy(_._1)
    val parts = byReplica.map { case (i, rs) =>
      val spanStart = rs.map(_._2).min
      val spanEnd = rs.map(_._3).max
      val keep = rs.map { case (_, s, e) => col("step_ts").between(s, e) }
        .reduce(_ || _)
      queryRange(spark, replicas(i)._1, query, spanStart, spanEnd, stepMs)
        .filter(keep)
    }
    require(parts.nonEmpty,
      s"no replica healthy anywhere in [$startMs, $endMs] — ${replicas.map(_._1)}")
    parts.reduce(_ unionByName _)
  }

  /** Shard-key federation ROUTING (reference ShardKeyRegexPlanner +
    * PartitionLocationProvider, coordinator/.../queryplanner/
    * ShardKeyRegexPlanner.scala): each remote cluster owns a shard-key
    * label assignment (e.g. `_ws_`/`_ns_` values); a query fans out ONLY
    * to clusters whose assignment satisfies the query's selector matchers
    * — `{_ws_="demo",_ns_=~"App-1|App-2"}` reaches those two namespaces'
    * clusters, not every partition. Matching reuses the SAME predicate
    * compiler as the scan path (Matchers.pred over a tiny assignments
    * frame), so routing can never drift from filter semantics. Matchers
    * on labels that are not shard-key labels (no target assigns them)
    * never exclude a cluster — any cluster may hold such series, exactly
    * the reference's non-shard-key-filter rule. A query is routed to the
    * UNION of its selectors' matches; a selector unconstrained on shard
    * keys matches everything. */
  def matchingTargets(spark: SparkSession, query: String,
                      targets: Seq[(String, Map[String, String])]): Seq[String] = {
    import graft.promql._
    def selectorsOf(e: PromExpr): Seq[Selector] = e match {
      case s: Selector => Seq(s)
      case sq: Subquery => selectorsOf(sq.expr)
      case FuncCall(_, args) => args.flatMap(selectorsOf)
      case a: Agg => selectorsOf(a.expr) ++ a.param.toSeq.flatMap(selectorsOf)
      case b: BinOp => selectorsOf(b.lhs) ++ selectorsOf(b.rhs)
      case _ => Nil
    }
    val shardLabels = targets.flatMap(_._2.keySet).toSet
    val sels = selectorsOf(Parser.parse(query))
    if (sels.isEmpty) return targets.map(_._1)
    import spark.implicits._
    val assign = targets.toDF("url", "tags")
    sels.flatMap { sel =>
      val applicable = sel.matchers.filter(m => shardLabels(m.label))
      if (applicable.isEmpty) targets.map(_._1)
      else assign.filter(applicable.map(Matchers.pred).reduce(_ && _))
        .select("url").as[String].collect().toSeq
    }.distinct
  }

  /** [[federatedQueryRange]] with shard-key routing: only the clusters
    * [[matchingTargets]] selects are queried (plus the local dataset). */
  def federatedRoutedQueryRange(ctx: PromPlanner.Ctx, query: String,
                                targets: Seq[(String, Map[String, String])]): DataFrame =
    federatedQueryRange(ctx, query, matchingTargets(ctx.spark, query, targets))

  /** Cross-partition AGGREGATE pushdown (reference MultiPartitionPlanner's
    * reduce step): a top-level aggregation whose grouping drops the
    * partitioning key is NOT union-safe — every cluster returns its own
    * partial per group, and the partials must be re-reduced. The whole
    * aggregate ships to each cluster (so raw series never cross the
    * wire), then the union re-reduces by (series key, step):
    * sum/min/max/group re-apply themselves, count partials merge as SUM,
    * and avg rewrites to a federated sum / federated count join before
    * shipping. Non-mergeable aggregates (quantile, stddev, topk,
    * count_values) error — shipping them would silently return partials,
    * exactly the bug the reference planner exists to prevent. */
  def federatedAggQueryRange(ctx: PromPlanner.Ctx, query: String,
                             remoteBaseUrls: Seq[String]): DataFrame = {
    import graft.promql._
    val Mergeable = Set("sum", "min", "max", "count", "group")
    Parser.parse(query) match {
      case a @ Agg(op, _, None, _, _) if Mergeable(op) =>
        val parts = federatedQueryRange(ctx, Printer.print(a), remoteBaseUrls)
        val reduce = op match {
          case "sum" => sum(col("value"))
          case "min" => min(col("value"))
          case "max" => max(col("value"))
          case "count" => sum(col("value")) // partial counts merge additively
          case "group" => min(col("value")) // always 1
        }
        parts.groupBy(col("__key"), col("step_ts"))
          .agg(first(col("labels")).as("labels"), reduce.as("value"))
          .select(col("labels"), col("__key"), col("step_ts"), col("value"))
      case a @ Agg("avg", _, None, _, _) =>
        val sums = federatedAggQueryRange(ctx, Printer.print(a.copy(op = "sum")), remoteBaseUrls)
          .withColumnRenamed("value", "__s")
        val counts = federatedAggQueryRange(ctx, Printer.print(a.copy(op = "count")), remoteBaseUrls)
          .select(col("__key"), col("step_ts"), col("value").as("__c"))
        sums.join(counts, Seq("__key", "step_ts"))
          .select(col("labels"), col("__key"), col("step_ts"),
            (col("__s") / col("__c")).as("value"))
      case other =>
        throw new IllegalArgumentException(
          s"not a federation-mergeable aggregate: $other — " +
            "use federatedQueryRange when output series are partition-disjoint")
    }
  }
}
