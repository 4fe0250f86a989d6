package graft.http

/** OTLP metrics wire codec (OpenTelemetry `ExportMetricsServiceRequest`,
  * opentelemetry-proto — public, frozen v1 schema) and its translation to
  * the engine's Prometheus-shaped model ([[ProtoWire.PSeries]] /
  * [[ProtoWire.PHistogram]]), so `/api/v1/otlp/v1/metrics` — the wire
  * modern collectors actually speak — commits through the exact
  * remote-write chain (hwm dedup, quota, NHCB bucket storage, exp-delta
  * conversion, exemplar side table, metadata upserts).
  *
  * Hand-rolled against the documented proto wire format like the prompb
  * and write-v2 codecs (no protobuf library resolves in this
  * environment). Decoded message shapes:
  *
  *   ExportMetricsServiceRequest { repeated ResourceMetrics resource_metrics = 1 }
  *   ResourceMetrics { Resource resource = 1; repeated ScopeMetrics scope_metrics = 2 }
  *   Resource       { repeated KeyValue attributes = 1 }
  *   ScopeMetrics   { InstrumentationScope scope = 1; repeated Metric metrics = 2 }
  *   Metric { string name = 1; string description = 2; string unit = 3;
  *            Gauge gauge = 5; Sum sum = 7; Histogram histogram = 9;
  *            ExponentialHistogram exponential_histogram = 10; Summary summary = 11 }
  *   Sum    { points = 1; AggregationTemporality temporality = 2; bool is_monotonic = 3 }
  *   NumberDataPoint { attributes = 7; fixed64 time_unix_nano = 3;
  *                     double as_double = 4; sfixed64 as_int = 6;
  *                     exemplars = 5; uint32 flags = 8 }
  *   HistogramDataPoint { attributes = 9; fixed64 time_unix_nano = 3;
  *                        fixed64 count = 4; double sum = 5;
  *                        repeated fixed64 bucket_counts = 6 [packed];
  *                        repeated double explicit_bounds = 7 [packed];
  *                        exemplars = 8; uint32 flags = 10 }
  *   ExponentialHistogramDataPoint { attributes = 1; time = 3; fixed64 count = 4;
  *                        double sum = 5; sint32 scale = 6; fixed64 zero_count = 7;
  *                        Buckets positive = 8 { sint32 offset = 1;
  *                          repeated uint64 bucket_counts = 2 [packed] };
  *                        exemplars = 11; flags = 10; double zero_threshold = 14 }
  *   SummaryDataPoint { attributes = 7; time = 3; fixed64 count = 4; double sum = 5;
  *                      repeated ValueAtQuantile quantile_values = 6
  *                        { double quantile = 1; double value = 2 }; flags = 8 }
  *   Exemplar { filtered_attributes = 7; fixed64 time_unix_nano = 2;
  *              double as_double = 3; sfixed64 as_int = 6;
  *              bytes span_id = 4; bytes trace_id = 5 }
  *   KeyValue { string key = 1; AnyValue value = 2 }; AnyValue oneof
  *     { string=1 bool=2 int=3 double=4 bytes=7 } (array/kvlist render as
  *     their JSON-ish string — Prometheus label values are strings).
  *
  * Translation follows the published Prometheus OTLP-receiver rules
  * (prometheus/prometheus storage/remote/otlptranslator docs):
  *  - names sanitize to the Prometheus charset (`[a-zA-Z0-9_:]`, labels
  *    without the colon); `service.name`/`service.instance.id` resource
  *    attributes promote to `job`/`instance`, the remaining resource
  *    attributes become one `target_info` gauge series per resource;
  *  - unit suffixes append per the documented table (s → _seconds, By →
  *    _bytes, "1" → _ratio for gauges, …) and monotonic cumulative sums
  *    get `_total` — each only when not already present;
  *  - CUMULATIVE monotonic sums are counters; cumulative non-monotonic
  *    sums and gauges are gauges; DELTA sums/histograms answer 400 like
  *    upstream without the delta-to-cumulative feature (retrying them
  *    cannot succeed, and silently treating deltas as levels corrupts
  *    rate());
  *  - explicit-bound histograms land as NHCB-style classic bucket
  *    storage (le = bounds + Inf, per-sample CUMULATIVE-across-le
  *    counts); exponential histograms land on the exp path — OTel bucket
  *    index i covers (base^i, base^(i+1)], exactly the engine's
  *    exp-storage indexing, and OTel DELTA temporality IS the engine's
  *    storage temporality (such points store as-is via the gauge-hint
  *    route; CUMULATIVE points run the cumulative→delta conversion);
  *  - summaries expand to `_sum`/`_count` counters and per-quantile
  *    gauge series, upstream's mapping;
  *  - a datapoint with the NO_RECORDED_VALUE flag (flags bit 0) is
  *    OTLP's staleness marker and lands as a `__stale` tombstone row —
  *    the same cut-the-lookback semantics as a remote-written StaleNaN;
  *  - exemplars attach with `trace_id`/`span_id` hex labels plus their
  *    filtered attributes.
  */
object OtlpWire {
  import ProtoWire.{Reader, PSeries, PSample, PHistogram, PExemplar, PMetaV2}

  /** One decoded datapoint, shared across kinds. */
  private case class Point(attrs: Seq[(String, String)], tsMs: Long,
                           value: Double, stale: Boolean,
                           exemplars: Seq[PExemplar])
  private case class HistPoint(attrs: Seq[(String, String)], tsMs: Long,
                               count: Double, sum: Double, hasSum: Boolean,
                               bounds: Seq[Double], counts: Seq[Double],
                               stale: Boolean, exemplars: Seq[PExemplar])
  private case class ExpPoint(attrs: Seq[(String, String)], tsMs: Long,
                              scale: Int, zeroCount: Double, zeroThreshold: Double,
                              count: Double, sum: Double,
                              posOffset: Int, posCounts: Seq[Double],
                              negOffset: Int, negCounts: Seq[Double],
                              stale: Boolean, exemplars: Seq[PExemplar])
  private case class SummaryPoint(attrs: Seq[(String, String)], tsMs: Long,
                                  count: Double, sum: Double,
                                  quantiles: Seq[(Double, Double)], stale: Boolean)
  private case class OMetric(name: String, description: String, unit: String,
                             kind: String, monotonic: Boolean, temporality: Int,
                             points: Seq[Point], hists: Seq[HistPoint],
                             exps: Seq[ExpPoint], summaries: Seq[SummaryPoint])

  private val NoRecordedValue = 1 // DataPointFlags bit 0

  // ---- decode ------------------------------------------------------------

  private def zigzag(v: Long): Long = (v >>> 1) ^ -(v & 1L)

  private def readAnyValue(r: Reader): String = {
    var out = ""
    while (r.hasNext) r.readKey() match {
      case (1, 2) => out = r.readString()
      case (2, 0) => out = if (r.readVarint() != 0L) "true" else "false"
      case (3, 0) => out = r.readVarint().toString
      case (4, 1) => out = { val d = r.readDouble()
        if (d == d.toLong.toDouble) d.toLong.toString else d.toString }
      case (7, 2) => out = hex(readBytes(r))
      case (_, wt) => r.skip(wt) // array/kvlist: unsupported as label values
    }
    out
  }

  private def readBytes(r: Reader): Array[Byte] = {
    val len = r.readVarint().toInt
    // explicit bound: copyOfRange would silently zero-pad past the
    // message end instead of failing the malformed payload with 400
    if (len < 0 || r.pos + len > r.end)
      throw new IllegalArgumentException(
        s"malformed protobuf: bytes length $len overruns enclosing bound")
    val b = java.util.Arrays.copyOfRange(r.buf, r.pos, r.pos + len)
    r.pos += len
    b
  }

  private def hex(b: Array[Byte]): String =
    b.map(x => f"${x & 0xff}%02x").mkString

  private def readKeyValue(r: Reader): (String, String) = {
    var k = ""; var v = ""
    while (r.hasNext) r.readKey() match {
      case (1, 2) => k = r.readString()
      case (2, 2) => v = readAnyValue(r.readMessage())
      case (_, wt) => r.skip(wt)
    }
    (k, v)
  }

  private def readAttrs(r: Reader, into: scala.collection.mutable.Buffer[(String, String)],
                        field: Int, key: (Int, Int)): Boolean = key match {
    case (`field`, 2) => into += readKeyValue(r.readMessage()); true
    case _ => false
  }

  private def readExemplar(r: Reader): PExemplar = {
    val attrs = Seq.newBuilder[(String, String)]
    var ts = 0L; var v = 0.0
    while (r.hasNext) r.readKey() match {
      case (7, 2) => attrs += readKeyValue(r.readMessage())
      case (2, 1) => ts = r.readDoubleBits() / 1000000L
      case (3, 1) => v = r.readDouble()
      case (6, 1) => v = r.readDoubleBits().toDouble
      case (4, 2) => attrs += ("span_id" -> hex(readBytes(r)))
      case (5, 2) => attrs += ("trace_id" -> hex(readBytes(r)))
      case (_, wt) => r.skip(wt)
    }
    PExemplar(attrs.result(), v, ts)
  }

  private def readNumberPoint(r: Reader): Point = {
    val attrs = scala.collection.mutable.Buffer.empty[(String, String)]
    var ts = 0L; var v = 0.0; var flags = 0L
    val exs = Seq.newBuilder[PExemplar]
    while (r.hasNext) {
      val k = r.readKey()
      if (!readAttrs(r, attrs, 7, k)) k match {
        case (3, 1) => ts = r.readDoubleBits() / 1000000L // fixed64 ns -> ms
        case (4, 1) => v = r.readDouble()
        case (6, 1) => v = r.readDoubleBits().toDouble // sfixed64 as_int
        case (5, 2) => exs += readExemplar(r.readMessage())
        case (8, 0) => flags = r.readVarint()
        case (_, wt) => r.skip(wt)
      }
    }
    Point(attrs.toSeq, ts, v, (flags & NoRecordedValue) != 0, exs.result())
  }

  private def readHistPoint(r: Reader): HistPoint = {
    val attrs = scala.collection.mutable.Buffer.empty[(String, String)]
    var ts = 0L; var count = 0.0; var sum = 0.0; var hasSum = false; var flags = 0L
    val counts = Seq.newBuilder[Double]; val bounds = Seq.newBuilder[Double]
    val exs = Seq.newBuilder[PExemplar]
    while (r.hasNext) {
      val k = r.readKey()
      if (!readAttrs(r, attrs, 9, k)) k match {
        case (3, 1) => ts = r.readDoubleBits() / 1000000L
        case (4, 1) => count = r.readDoubleBits().toDouble // fixed64
        case (5, 1) => sum = r.readDouble(); hasSum = true
        case (6, 2) =>
          val pr = r.readMessage()
          while (pr.hasNext) counts += pr.readDoubleBits().toDouble
        case (6, 1) => counts += r.readDoubleBits().toDouble
        case (7, 2) =>
          val pr = r.readMessage()
          while (pr.hasNext) bounds += pr.readDouble()
        case (7, 1) => bounds += r.readDouble()
        case (8, 2) => exs += readExemplar(r.readMessage())
        case (10, 0) => flags = r.readVarint()
        case (_, wt) => r.skip(wt)
      }
    }
    HistPoint(attrs.toSeq, ts, count, sum, hasSum, bounds.result(),
      counts.result(), (flags & NoRecordedValue) != 0, exs.result())
  }

  private def readExpPoint(r: Reader): ExpPoint = {
    val attrs = scala.collection.mutable.Buffer.empty[(String, String)]
    var ts = 0L; var count = 0.0; var sum = 0.0; var scale = 0
    var zeroCount = 0.0; var zeroThreshold = 0.0; var flags = 0L
    var posOff = 0; var negOff = 0
    var posCounts: Seq[Double] = Nil; var negCounts: Seq[Double] = Nil
    val exs = Seq.newBuilder[PExemplar]
    def readBuckets(br: Reader): (Int, Seq[Double]) = {
      var off = 0; val cs = Seq.newBuilder[Double]
      while (br.hasNext) br.readKey() match {
        case (1, 0) => off = zigzag(br.readVarint()).toInt
        case (2, 2) =>
          val pr = br.readMessage()
          while (pr.hasNext) cs += pr.readVarint().toDouble
        case (2, 0) => cs += br.readVarint().toDouble
        case (_, wt) => br.skip(wt)
      }
      (off, cs.result())
    }
    while (r.hasNext) {
      val k = r.readKey()
      if (!readAttrs(r, attrs, 1, k)) k match {
        case (3, 1) => ts = r.readDoubleBits() / 1000000L
        case (4, 1) => count = r.readDoubleBits().toDouble
        case (5, 1) => sum = r.readDouble()
        case (6, 0) => scale = zigzag(r.readVarint()).toInt
        case (7, 1) => zeroCount = r.readDoubleBits().toDouble
        case (8, 2) => val (o, c) = readBuckets(r.readMessage()); posOff = o; posCounts = c
        case (9, 2) => val (o, c) = readBuckets(r.readMessage()); negOff = o; negCounts = c
        case (10, 0) => flags = r.readVarint()
        case (11, 2) => exs += readExemplar(r.readMessage())
        case (14, 1) => zeroThreshold = r.readDouble()
        case (_, wt) => r.skip(wt)
      }
    }
    ExpPoint(attrs.toSeq, ts, scale, zeroCount, zeroThreshold, count, sum,
      posOff, posCounts, negOff, negCounts, (flags & NoRecordedValue) != 0,
      exs.result())
  }

  private def readSummaryPoint(r: Reader): SummaryPoint = {
    val attrs = scala.collection.mutable.Buffer.empty[(String, String)]
    var ts = 0L; var count = 0.0; var sum = 0.0; var flags = 0L
    val qs = Seq.newBuilder[(Double, Double)]
    while (r.hasNext) {
      val k = r.readKey()
      if (!readAttrs(r, attrs, 7, k)) k match {
        case (3, 1) => ts = r.readDoubleBits() / 1000000L
        case (4, 1) => count = r.readDoubleBits().toDouble
        case (5, 1) => sum = r.readDouble()
        case (6, 2) =>
          val qr = r.readMessage()
          var q = 0.0; var v = 0.0
          while (qr.hasNext) qr.readKey() match {
            case (1, 1) => q = qr.readDouble()
            case (2, 1) => v = qr.readDouble()
            case (_, wt) => qr.skip(wt)
          }
          qs += (q -> v)
        case (8, 0) => flags = r.readVarint()
        case (_, wt) => r.skip(wt)
      }
    }
    SummaryPoint(attrs.toSeq, ts, count, sum, qs.result(),
      (flags & NoRecordedValue) != 0)
  }

  private def readMetric(r: Reader): OMetric = {
    var name = ""; var desc = ""; var unit = ""
    var kind = ""; var monotonic = false; var temporality = 0
    val points = Seq.newBuilder[Point]; val hists = Seq.newBuilder[HistPoint]
    val exps = Seq.newBuilder[ExpPoint]; val sums = Seq.newBuilder[SummaryPoint]
    def readPointList(dr: Reader, k: String): Unit = {
      kind = k
      while (dr.hasNext) dr.readKey() match {
        case (1, 2) => k match {
          case "gauge" | "sum" => points += readNumberPoint(dr.readMessage())
          case "histogram" => hists += readHistPoint(dr.readMessage())
          case "exponential_histogram" => exps += readExpPoint(dr.readMessage())
          case "summary" => sums += readSummaryPoint(dr.readMessage())
        }
        case (2, 0) => temporality = dr.readVarint().toInt
        case (3, 0) => monotonic = dr.readVarint() != 0L
        case (_, wt) => dr.skip(wt)
      }
    }
    while (r.hasNext) r.readKey() match {
      case (1, 2) => name = r.readString()
      case (2, 2) => desc = r.readString()
      case (3, 2) => unit = r.readString()
      case (5, 2) => readPointList(r.readMessage(), "gauge")
      case (7, 2) => readPointList(r.readMessage(), "sum")
      case (9, 2) => readPointList(r.readMessage(), "histogram")
      case (10, 2) => readPointList(r.readMessage(), "exponential_histogram")
      case (11, 2) => readPointList(r.readMessage(), "summary")
      case (_, wt) => r.skip(wt)
    }
    OMetric(name, desc, unit, kind, monotonic, temporality,
      points.result(), hists.result(), exps.result(), sums.result())
  }

  // ---- Prometheus mapping -------------------------------------------------

  /** Prometheus metric-name charset; labels additionally ban the colon. */
  private def sanitizeName(s: String): String = {
    val out = s.map(c =>
      if (c.isLetterOrDigit && c < 128 || c == '_' || c == ':') c else '_')
    if (out.isEmpty || out.head.isDigit) "_" + out else out
  }

  private[http] def sanitizeLabel(s: String): String = {
    val out = s.map(c => if (c.isLetterOrDigit && c < 128 || c == '_') c else '_')
    if (out.isEmpty || out.head.isDigit) "_" + out else out
  }

  /** The documented OTLP-translator unit table (common entries). */
  private val UnitSuffix = Map(
    "s" -> "seconds", "ms" -> "milliseconds", "us" -> "microseconds",
    "ns" -> "nanoseconds", "By" -> "bytes", "KiBy" -> "kibibytes",
    "MiBy" -> "mebibytes", "GiBy" -> "gibibytes", "%" -> "percent",
    "1" -> "", "Hz" -> "hertz", "J" -> "joules", "W" -> "watts",
    "Cel" -> "celsius", "V" -> "volts", "A" -> "amperes")

  /** name + unit/type suffixes per the upstream default translation. */
  private def promName(m: OMetric): String = {
    var n = sanitizeName(m.name)
    val us = UnitSuffix.getOrElse(m.unit.trim,
      if (m.unit.trim.isEmpty || m.unit.contains("{")) "" else sanitizeLabel(m.unit.trim))
    if (us.nonEmpty && !n.endsWith("_" + us) && !n.endsWith(us)) n = s"${n}_$us"
    if (m.unit.trim == "1" && m.kind == "gauge" && !n.endsWith("_ratio"))
      n = s"${n}_ratio"
    if (m.kind == "sum" && m.monotonic && !n.endsWith("_total")) n = s"${n}_total"
    n
  }

  /** Upstream otlptranslator precedence: the promoted resource identity
    * (`__name__`, `job`, `instance`) always wins over a datapoint
    * attribute of the same (sanitized) name — a point attribute must not
    * be able to respoof the series identity. Among the attributes
    * themselves, last wins (sanitize collisions like `a.b` vs `a_b`
    * dedup the same way upstream's label-map build does). */
  private def labelsOf(metric: String, jobInstance: Seq[(String, String)],
                       attrs: Seq[(String, String)]): Seq[(String, String)] = {
    val reserved = ("__name__" -> metric) +: jobInstance
    val reservedKeys = reserved.map(_._1).toSet
    reserved ++ attrs.map { case (k, v) => sanitizeLabel(k) -> v }
      .foldLeft(Vector.empty[(String, String)]) { (acc, kv) => // last wins
        acc.filterNot(_._1 == kv._1) :+ kv
      }.filterNot(kv => reservedKeys.contains(kv._1))
  }

  /** Decode + translate one OTLP export request body into the prompb
    * model the remote-write commit chain already speaks: (series,
    * per-family metadata). Throws IllegalArgumentException on payloads
    * upstream rejects (delta sums/histograms, malformed wire).
    *
    * `acceptDelta` mirrors upstream's opt-in `otlp-deltatocumulative`
    * feature: delta-temporality sums are accepted as the engine's NATIVE
    * `series_type = "delta"` per-interval counters (no stateful
    * delta→cumulative accumulation needed — the rate/increase planner
    * dispatch already runs the delta kernel over them), and delta
    * explicit-bound histograms as `prom_histogram_delta` bucket storage
    * (each bucket series a delta counter). Default off = 400, exactly
    * upstream without the flag. */
  def decodeExportRequest(b: Array[Byte], acceptDelta: Boolean = false)
      : (Seq[PSeries], Seq[PMetaV2]) = {
    val root = new Reader(b, 0, b.length)
    val series = Seq.newBuilder[PSeries]
    val metas = Seq.newBuilder[PMetaV2]
    while (root.hasNext) root.readKey() match {
      case (1, 2) => // ResourceMetrics
        val rr = root.readMessage()
        val resAttrs = scala.collection.mutable.Buffer.empty[(String, String)]
        val scopeReaders = Seq.newBuilder[Reader]
        while (rr.hasNext) rr.readKey() match {
          case (1, 2) => // Resource
            val res = rr.readMessage()
            while (res.hasNext) res.readKey() match {
              case (1, 2) => resAttrs += readKeyValue(res.readMessage())
              case (_, wt) => res.skip(wt)
            }
          case (2, 2) => scopeReaders += rr.readMessage()
          case (_, wt) => rr.skip(wt)
        }
        // upstream otlptranslator: job = "<service.namespace>/<service.name>"
        // when the namespace is present, else just the name; the namespace
        // is consumed into job, so it is excluded from target_info
        val ns = resAttrs.collectFirst { case ("service.namespace", v) => v }
        val job = resAttrs.collectFirst { case ("service.name", v) => v }
          .map(n => ns.fold(n)(_ + "/" + n))
        val instance = resAttrs.collectFirst { case ("service.instance.id", v) => v }
        val ji = job.map("job" -> _).toSeq ++ instance.map("instance" -> _).toSeq
        val rest = resAttrs.toSeq.filterNot(kv =>
          kv._1 == "service.name" || kv._1 == "service.instance.id" ||
            (kv._1 == "service.namespace" && job.isDefined))
        val metrics = Seq.newBuilder[OMetric]
        scopeReaders.result().foreach { sr =>
          while (sr.hasNext) sr.readKey() match {
            case (2, 2) => metrics += readMetric(sr.readMessage())
            case (_, wt) => sr.skip(wt)
          }
        }
        val ms = metrics.result()
        series ++= translate(ms, ji, metas, acceptDelta)
        // target_info: the remaining resource attributes, one gauge series
        // per resource, stamped at the resource's newest datapoint ts
        if (rest.nonEmpty) {
          val maxTs = (ms.flatMap(_.points.map(_.tsMs)) ++
            ms.flatMap(_.hists.map(_.tsMs)) ++ ms.flatMap(_.exps.map(_.tsMs)) ++
            ms.flatMap(_.summaries.map(_.tsMs))).foldLeft(0L)(math.max)
          if (maxTs > 0)
            series += PSeries(labelsOf("target_info", ji, rest),
              Seq(PSample(1.0, maxTs)))
        }
      case (_, wt) => root.skip(wt)
    }
    (series.result(), metas.result().distinct)
  }

  private val Cumulative = 2
  private val Delta = 1

  private def translate(ms: Seq[OMetric], ji: Seq[(String, String)],
                        metas: scala.collection.mutable.Builder[PMetaV2, Seq[PMetaV2]],
                        acceptDelta: Boolean)
      : Seq[PSeries] = {
    val out = Seq.newBuilder[PSeries]
    ms.foreach { m =>
      val name = promName(m)
      def meta(typ: String): Unit =
        if (m.description.nonEmpty || m.unit.nonEmpty || typ != "unknown")
          metas += PMetaV2(name, typ,
            if (m.description.isEmpty) null else m.description,
            if (m.unit.isEmpty) null else m.unit)
      def sampleSeries(metric: String, attrs: Seq[(String, String)],
                       samples: Seq[PSample], exs: Seq[PExemplar] = Nil,
                       seriesType: String = null): Unit =
        out += PSeries(labelsOf(metric, ji, attrs), samples, exemplars = exs,
          seriesType = seriesType)
      m.kind match {
        case "gauge" | "sum" =>
          val isDeltaSum = m.kind == "sum" && m.temporality == Delta
          if (isDeltaSum && !acceptDelta)
            throw new IllegalArgumentException(
              s"OTLP delta-temporality sum '${m.name}' is not accepted " +
                "(convert to cumulative in the collector, as for upstream " +
                "Prometheus without otlp delta conversion)")
          // an accepted delta sum stores as the engine's native delta
          // counter regardless of monotonicity — each value is the
          // interval's increment, not a level, so "gauge" semantics would
          // mis-answer every instant read
          meta(if (isDeltaSum || (m.kind == "sum" && m.monotonic)) "counter"
               else "gauge")
          m.points.groupBy(_.attrs).foreach { case (attrs, pts) =>
            sampleSeries(name, attrs,
              pts.map(p => PSample(if (p.stale) Double.NaN else p.value,
                p.tsMs, stale = p.stale)),
              pts.flatMap(_.exemplars),
              seriesType = if (isDeltaSum) "delta" else null)
          }
        case "histogram" =>
          val isDeltaHist = m.temporality == Delta
          if (isDeltaHist && !acceptDelta)
            throw new IllegalArgumentException(
              s"OTLP delta-temporality histogram '${m.name}' is not accepted")
          meta("histogram")
          m.hists.groupBy(_.attrs).foreach { case (attrs, pts) =>
            val (stales, live) = pts.partition(_.stale)
            val (bucketed, bare) = live.partition(_.bounds.nonEmpty)
            val hs = bucketed.map { h =>
              // per-bucket counts + the (last bound, +Inf] overflow; the
              // NHCB storage path cumulates across le and keeps `count`
              // authoritative for the +Inf entry
              val counts = h.counts.padTo(h.bounds.length + 1, 0.0)
                .take(h.bounds.length + 1)
              PHistogram(h.tsMs, -53, 0.0, 0.0, h.count,
                if (h.hasSum) h.sum else 0.0, 0, 0, counts, 0, Nil,
                customValues = h.bounds)
            }
            if (hs.nonEmpty)
              out += PSeries(labelsOf(name, ji, attrs), Nil, histograms = hs,
                exemplars = bucketed.flatMap(_.exemplars),
                seriesType = if (isDeltaHist) "prom_histogram_delta" else null)
            // a bucketless histogram still carries count/sum observations
            if (bare.nonEmpty) {
              val st = if (isDeltaHist) "delta" else null
              sampleSeries(name + "_count", attrs,
                bare.map(h => PSample(h.count, h.tsMs)), seriesType = st)
              val withSum = bare.filter(_.hasSum)
              if (withSum.nonEmpty)
                sampleSeries(name + "_sum", attrs,
                  withSum.map(h => PSample(h.sum, h.tsMs)), seriesType = st)
            }
            if (stales.nonEmpty)
              sampleSeries(name, attrs,
                stales.map(h => PSample(Double.NaN, h.tsMs, stale = true)))
          }
        case "exponential_histogram" =>
          meta("histogram")
          m.exps.groupBy(_.attrs).foreach { case (attrs, pts) =>
            val (stales, live) = pts.partition(_.stale)
            val hs = live.map { e =>
              // OTel bucket i covers (base^i, base^(i+1)] — the engine's
              // exp-storage indexing exactly; SpoolDrain.seriesRows
              // subtracts one from the prompb offset, so pre-add it here.
              // DELTA temporality IS the storage temporality: the GAUGE reset
              // hint routes such points around the cumulative→delta
              // conversion (stored as-is), upstream's own trick for
              // gauge-hinted native histograms.
              PHistogram(e.tsMs, e.scale, e.zeroThreshold, e.zeroCount,
                e.count, e.sum,
                resetHint = if (m.temporality == Delta) 3 else 0,
                posOffset = e.posOffset + 1, posCounts = e.posCounts,
                negOffset = e.negOffset + 1, negCounts = e.negCounts)
            }
            if (hs.nonEmpty)
              out += PSeries(labelsOf(name, ji, attrs), Nil, histograms = hs,
                exemplars = live.flatMap(_.exemplars))
            if (stales.nonEmpty)
              sampleSeries(name, attrs,
                stales.map(e => PSample(Double.NaN, e.tsMs, stale = true)))
          }
        case "summary" =>
          meta("summary")
          m.summaries.groupBy(_.attrs).foreach { case (attrs, pts) =>
            val live = pts.filterNot(_.stale)
            if (live.nonEmpty) {
              sampleSeries(name + "_sum", attrs,
                live.map(p => PSample(p.sum, p.tsMs)))
              sampleSeries(name + "_count", attrs,
                live.map(p => PSample(p.count, p.tsMs)))
              live.flatMap(p => p.quantiles.map(q => (q, p)))
                .groupBy(_._1._1).foreach { case (q, qs) =>
                  sampleSeries(name, attrs :+ ("quantile" -> shortestDouble(q)),
                    qs.map { case ((_, v), p) => PSample(v, p.tsMs) })
                }
            }
            val stales = pts.filter(_.stale)
            if (stales.nonEmpty) {
              sampleSeries(name + "_sum", attrs,
                stales.map(p => PSample(Double.NaN, p.tsMs, stale = true)))
              sampleSeries(name + "_count", attrs,
                stales.map(p => PSample(Double.NaN, p.tsMs, stale = true)))
            }
          }
        case _ => // metric with no data — nothing to store
      }
    }
    out.result()
  }

  /** Go strconv shortest-'f' style for quantile label values. */
  private def shortestDouble(d: Double): String =
    if (d == d.toLong.toDouble) d.toLong.toString else d.toString

  // ---- encode (test/sender side) ------------------------------------------

  import ProtoWire.Writer

  /** Minimal request encoder for specs and fixtures: one resource with
    * the given attributes, one scope, the given metrics. */
  final case class EncMetric(name: String, unit: String = "",
                             description: String = "",
                             kind: String = "gauge",
                             monotonic: Boolean = false, temporality: Int = 2,
                             points: Seq[(Seq[(String, String)], Long, Double, Int)] = Nil,
                             histPoints: Seq[(Seq[(String, String)], Long, Double, Double, Seq[Double], Seq[Double])] = Nil,
                             expPoints: Seq[(Seq[(String, String)], Long, Int, Double, Double, Int, Seq[Double])] = Nil,
                             summaryPoints: Seq[(Seq[(String, String)], Long, Double, Double, Seq[(Double, Double)])] = Nil)

  def encodeExportRequest(resourceAttrs: Seq[(String, String)],
                          metrics: Seq[EncMetric]): Array[Byte] = {
    def kv(w: Writer, field: Int, k: String, v: String): Unit = {
      val kw = new Writer
      kw.string(1, k)
      val av = new Writer; av.string(1, v)
      kw.message(2, av)
      w.message(field, kw)
    }
    val rm = new Writer
    val res = new Writer
    resourceAttrs.foreach { case (k, v) => kv(res, 1, k, v) }
    rm.message(1, res)
    val sm = new Writer
    metrics.foreach { m =>
      val mw = new Writer
      mw.string(1, m.name)
      mw.string(2, m.description)
      mw.string(3, m.unit)
      val dw = new Writer
      m.points.foreach { case (attrs, tsMs, v, flags) =>
        val pw = new Writer
        pw.doubleBits(3, tsMs * 1000000L)
        pw.double(4, v)
        attrs.foreach { case (k, vv) => kv(pw, 7, k, vv) }
        if (flags != 0) { pw.int64(8, flags.toLong) }
        dw.message(1, pw)
      }
      m.histPoints.foreach { case (attrs, tsMs, count, sum, bounds, counts) =>
        val pw = new Writer
        pw.doubleBits(3, tsMs * 1000000L)
        pw.doubleBits(4, count.toLong)
        pw.double(5, sum)
        // packed fixed64: length-delimited list of raw 8-byte values
        pw.bytes(6, packFixed64(counts.map(_.toLong)))
        pw.bytes(7, packDoubles(bounds))
        attrs.foreach { case (k, vv) => kv(pw, 9, k, vv) }
        dw.message(1, pw)
      }
      m.expPoints.foreach { case (attrs, tsMs, scale, zeroCount, sum, posOff, posCounts) =>
        val pw = new Writer
        attrs.foreach { case (k, vv) => kv(pw, 1, k, vv) }
        pw.doubleBits(3, tsMs * 1000000L)
        pw.doubleBits(4, (posCounts.sum + zeroCount).toLong)
        pw.double(5, sum)
        pw.sint64(6, scale.toLong)
        pw.doubleBits(7, zeroCount.toLong)
        val bw = new Writer
        bw.sint64(1, posOff.toLong)
        bw.packedVarint(2, posCounts.map(_.toLong))
        pw.message(8, bw)
        dw.message(1, pw)
      }
      m.summaryPoints.foreach { case (attrs, tsMs, count, sum, qs) =>
        val pw = new Writer
        pw.doubleBits(3, tsMs * 1000000L)
        pw.doubleBits(4, count.toLong)
        pw.double(5, sum)
        qs.foreach { case (q, v) =>
          val qw = new Writer; qw.double(1, q); qw.double(2, v)
          pw.message(6, qw)
        }
        attrs.foreach { case (k, vv) => kv(pw, 7, k, vv) }
        dw.message(1, pw)
      }
      val dataField = m.kind match {
        case "gauge" => 5
        case "sum" => 7
        case "histogram" => 9
        case "exponential_histogram" => 10
        case "summary" => 11
      }
      if (m.kind == "sum") {
        dw.enum(2, m.temporality)
        if (m.monotonic) { dw.int64(3, 1L) }
      } else if (m.kind == "histogram" || m.kind == "exponential_histogram")
        dw.enum(2, m.temporality)
      mw.message(dataField, dw)
      sm.message(2, mw)
    }
    rm.message(2, sm)
    val w = new Writer
    w.message(1, rm)
    w.toBytes
  }

  private def packFixed64(vs: Seq[Long]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    vs.foreach { v =>
      var i = 0
      while (i < 8) { out.write(((v >>> (8 * i)) & 0xFF).toInt); i += 1 }
    }
    out.toByteArray
  }

  private def packDoubles(vs: Seq[Double]): Array[Byte] =
    packFixed64(vs.map(java.lang.Double.doubleToLongBits))
}
