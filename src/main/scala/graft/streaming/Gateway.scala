package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.SeriesKey

/** Gateway wire-format decode: InfluxDB line protocol → the canonical
  * samples shape, the seam the reference's gateway keeps between raw
  * socket lines and its ingest records (gateway/src/main/scala/filodb/
  * gateway/GatewayServer.scala:64 routing into conversion/
  * InfluxProtocolParser.scala). Semantics mirrored from the reference
  * parser:
  *
  *   measurement[,tag=v,...] field=v[,field2=v2,...] [timestamp_ns]
  *
  *  - `\` escapes the NEXT character anywhere in names/tags/keys
  *    (InfluxProtocolParser.parseInner's Escape branch copies the next
  *    byte verbatim);
  *  - field values: `"..."` quoted strings, `123i` integer suffix,
  *    otherwise double (InfluxFieldVisitor);
  *  - nanosecond timestamps truncate to ms by dropping the last 6
  *    digits (parseUnixTime); a missing timestamp takes the caller's
  *    `defaultTsMs` — an explicit argument, NOT System.currentTimeMillis,
  *    so batches and replays are deterministic;
  *  - a single numeric field → one Prom-style sample, counter schema
  *    when the field key is `counter`, else gauge
  *    (InfluxPromSingleRecord.schema);
  *  - multiple fields → histogram decomposition
  *    (InfluxHistogramRecord): numeric field KEYS are `le` bucket
  *    bounds → `<m>_bucket{le=...}` rows, `sum`/`count` →
  *    `<m>_sum`/`<m>_count`, and a `+Inf` bucket is synthesized from
  *    `count` when absent — landing directly in the hist-to-prom-vector
  *    shape the query engine already serves (q73/q78);
  *  - empty measurement / no numeric fields / malformed timestamp →
  *    the line is REJECTED with a reason (the gateway's
  *    numInfluxParseErrors counter, as data instead of a metric).
  *
  * The decode itself is per-line imperative scalar work (escape-aware
  * single pass, like the reference's byte parser) on a typed Dataset
  * flatMap: stateless, fully distributed, no shuffle — the rare seam
  * where row-at-a-time code is the honest shape. Everything downstream
  * stays declarative.
  */
object Gateway {

  /** One decoded sample row, or (line, err) for a reject. */
  case class Decoded(metric: String, tags: Map[String, String], ts: Long,
                     value: Double, kind: String, line: String, err: String)

  /** Split on an unescaped delimiter, PRESERVING `\x` sequences so the
    * downstream k=v split still sees which chars were escaped (the
    * reference does delimitation and un-escaping in one pass; two passes
    * need the escapes kept until the last split). */
  private def splitUnescaped(s: String, delim: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) { cur.append(c).append(s.charAt(i + 1)); i += 2 }
      else if (c == delim) { out += cur.result(); cur.clear(); i += 1 }
      else { cur.append(c); i += 1 }
    }
    out += cur.result()
    out.result()
  }

  /** Split into the (up to 3) space-separated sections WITHOUT
    * unescaping — sections are parsed further. Quoted field values may
    * contain raw spaces, so quotes toggle splitting off. */
  private def sections(line: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var inQuote = false
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == '\\' && i + 1 < line.length) { cur.append(c).append(line.charAt(i + 1)); i += 2 }
      else if (c == '"') { inQuote = !inQuote; cur.append(c); i += 1 }
      else if (c == ' ' && !inQuote) { out += cur.result(); cur.clear(); i += 1 }
      else { cur.append(c); i += 1 }
    }
    out += cur.result()
    out.result().filter(_.nonEmpty)
  }

  private def kv(piece: String): Option[(String, String)] = {
    // the k=v split must also be escape-aware: k\=1=v has key "k=1"
    val parts = {
      val out = Seq.newBuilder[String]
      val cur = new StringBuilder
      var i = 0
      var done = false
      while (i < piece.length) {
        val c = piece.charAt(i)
        if (c == '\\' && i + 1 < piece.length) { cur.append(c).append(piece.charAt(i + 1)); i += 2 }
        else if (c == '=' && !done) { out += cur.result(); cur.clear(); done = true; i += 1 }
        else { cur.append(c); i += 1 }
      }
      out += cur.result()
      out.result()
    }
    if (parts.length == 2 && parts(0).nonEmpty) Some((unescape(parts(0)), parts(1)))
    else None
  }

  private def unescape(s: String): String = {
    val cur = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) { cur.append(s.charAt(i + 1)); i += 2 }
      else { cur.append(c); i += 1 }
    }
    cur.result()
  }

  /** Field value → Some(double): strips the `i` integer suffix, rejects
    * quoted strings (string fields carry no sample). */
  private def numericField(raw: String): Option[Double] = {
    val v = unescape(raw)
    if (v.isEmpty || v.startsWith("\"")) None
    else {
      val body = if (v.endsWith("i")) v.dropRight(1) else v
      try Some(body.toDouble) catch { case _: NumberFormatException => None }
    }
  }

  /** ns → ms by dropping the last 6 digits (reference parseUnixTime).
    * More than 19 digits overflows Long — a reject, not a task failure. */
  private def parseTsMs(s: String): Option[Long] =
    if (s.nonEmpty && s.forall(_.isDigit))
      if (s.length <= 6) Some(0L)
      else scala.util.Try(s.dropRight(6).toLong).toOption
    else None

  private def reject(line: String, why: String) =
    Seq(Decoded(null, null, 0L, 0.0, null, line, why))

  /** Decode ONE line to sample rows (err=null) or one reject row. */
  def parseInflux(line: String, defaultTsMs: Long): Seq[Decoded] = {
    val secs = sections(line.trim)
    if (secs.isEmpty || line.trim.isEmpty) return reject(line, "empty line")
    if (secs.length < 2) return reject(line, "no fields")
    if (secs.length > 3) return reject(line, "too many sections")
    val keyParts = splitUnescaped(secs.head, ',')
    val measurement = unescape(keyParts.head)
    if (measurement.isEmpty) return reject(line, "empty measurement")
    val tagPairs = keyParts.tail.map(p => kv(p).map { case (k, v) => k -> unescape(v) })
    if (tagPairs.exists(_.isEmpty)) return reject(line, "malformed tag")
    val tags = tagPairs.flatten.toMap
    val fieldPairs = splitUnescaped(secs(1), ',').map(kv)
    if (fieldPairs.exists(_.isEmpty)) return reject(line, "malformed field")
    val fields = fieldPairs.flatten
    val ts = if (secs.length == 3) parseTsMs(secs(2)) match {
      case Some(t) => t
      case None => return reject(line, "malformed timestamp")
    } else defaultTsMs
    val numeric = fields.flatMap { case (k, v) => numericField(v).map(k -> _) }
    if (numeric.isEmpty) return reject(line, "no numeric fields")
    if (numeric.length == 1) {
      val kind = if (numeric.head._1 == "counter") "counter" else "gauge"
      Seq(Decoded(measurement, tags, ts, numeric.head._2, kind, null, null))
    } else {
      // histogram decomposition: numeric KEYS are le bounds
      val buckets = numeric.filter { case (k, _) =>
        k == "+Inf" || scala.util.Try(k.toDouble).isSuccess
      }
      val sum = numeric.find(_._1 == "sum")
      val count = numeric.find(_._1 == "count")
      val bucketRows = buckets.map { case (le, v) =>
        Decoded(s"${measurement}_bucket", tags + ("le" -> le), ts, v, "hist", null, null)
      }
      val infRow = if (count.isDefined && !buckets.exists(_._1 == "+Inf"))
        Seq(Decoded(s"${measurement}_bucket", tags + ("le" -> "+Inf"), ts,
          count.get._2, "hist", null, null))
      else Nil
      val sumCnt = sum.map(s => Decoded(s"${measurement}_sum", tags, ts, s._2, "hist", null, null)).toSeq ++
        count.map(c => Decoded(s"${measurement}_count", tags, ts, c._2, "hist", null, null)).toSeq
      val others = numeric.filterNot(f => buckets.contains(f) || f._1 == "sum" || f._1 == "count")
        .map { case (k, v) => Decoded(s"${measurement}_$k", tags, ts, v, "gauge", null, null) }
      bucketRows ++ infRow ++ sumCnt ++ others
    }
  }

  /** Decode a frame of raw lines (column `line`, batch or streaming).
    * Good rows have err null; rejects keep the offending line + reason
    * (filter on `err` for the parse-error counter). */
  def influxDecode(lines: DataFrame, defaultTsMs: Long): Dataset[Decoded] = {
    import lines.sparkSession.implicits._
    lines.select(col("line").cast("string")).as[String]
      .flatMap(parseInflux(_, defaultTsMs))
  }

  /** Good samples in the canonical shape, ready for Ingest-style sinks:
    * (series_id, metric, tags, ts, value, kind). */
  def influxSamples(lines: DataFrame, defaultTsMs: Long): DataFrame =
    influxDecode(lines, defaultTsMs).filter(col("err").isNull)
      .withColumn("series_id", SeriesKey.id(col("metric"), col("tags")))
      .select(col("series_id"), col("metric"), col("tags"), col("ts"),
        col("value"), col("kind"))

  /** Per-batch reject counts by reason — numInfluxParseErrors as data. */
  def influxRejectStats(lines: DataFrame, defaultTsMs: Long): DataFrame =
    influxDecode(lines, defaultTsMs).filter(col("err").isNotNull)
      .groupBy(col("err")).agg(count(lit(1)).as("n_lines"))

  // ===== Prometheus text exposition format =============================
  //
  // The other public wire format a metrics gateway must speak
  // (https://prometheus.io/docs/instrumenting/exposition_formats/): one
  // SCRAPE PAYLOAD (multi-line body, one per target) decodes to sample
  // rows. Unlike Influx (independent lines), `# TYPE` metadata lines bind
  // a kind to every subsequent series of that metric family within the
  // payload — so the distributed unit is the payload, not the line, and
  // the decode is one flatMap per scrape body.

  private val NameRe = """[a-zA-Z_:][a-zA-Z0-9_:]*""".r
  private val SampleRe =
    ("""^(""" + NameRe.regex + """)(?:\{(.*)\})?\s+(\S+)(?:\s+(-?\d+))?\s*$""").r

  /** Parse one label set body `k="v",k2="v2"` (escapes: \\ \" \n). */
  private def parseLabels(body: String): Option[Map[String, String]] = {
    val out = Map.newBuilder[String, String]
    var i = 0
    val n = body.length
    def skipWs(): Unit = while (i < n && body.charAt(i) == ' ') i += 1
    while ({ skipWs(); i < n }) {
      val ks = i
      while (i < n && body.charAt(i) != '=') i += 1
      if (i >= n) return None
      val k = body.substring(ks, i).trim
      if (k.isEmpty || NameRe.unapplySeq(k).isEmpty) return None
      i += 1 // '='
      skipWs()
      if (i >= n || body.charAt(i) != '"') return None
      i += 1
      val v = new StringBuilder
      var closed = false
      while (i < n && !closed) {
        body.charAt(i) match {
          case '\\' if i + 1 < n =>
            body.charAt(i + 1) match {
              case 'n' => v.append('\n')
              case c => v.append(c) // \" and \\ (and anything else verbatim)
            }
            i += 2
          case '"' => closed = true; i += 1
          case c => v.append(c); i += 1
        }
      }
      if (!closed) return None
      out += k -> v.result()
      skipWs()
      if (i < n) {
        if (body.charAt(i) != ',') return None
        i += 1
      }
    }
    Some(out.result())
  }

  private def parsePromValue(s: String): Option[Double] = s match {
    case "NaN" => Some(Double.NaN)
    case "+Inf" | "Inf" => Some(Double.PositiveInfinity)
    case "-Inf" => Some(Double.NegativeInfinity)
    case v => try Some(v.toDouble) catch { case _: NumberFormatException => None }
  }

  /** Family base name for TYPE association: histogram/summary series carry
    * the family's kind through their _bucket/_sum/_count suffixes. */
  private def familyOf(metric: String, types: collection.Map[String, String]): Option[String] =
    if (types.contains(metric)) Some(metric)
    else Seq("_bucket", "_sum", "_count", "_total")
      .collectFirst { case suf if metric.endsWith(suf) &&
        types.contains(metric.dropRight(suf.length)) => metric.dropRight(suf.length) }

  /** Decode ONE scrape payload to sample rows (err=null) and/or reject
    * rows (one per malformed line; the rest of the payload still
    * decodes). `kind` = the family's `# TYPE` (counter/gauge/histogram/
    * summary), "untyped" when absent. Timestamps are already ms in this
    * format; a missing timestamp takes `defaultTsMs` (deterministic — the
    * scrape time is the caller's to inject). */
  def parsePromText(payload: String, defaultTsMs: Long): Seq[Decoded] = {
    val types = collection.mutable.Map.empty[String, String]
    val out = Seq.newBuilder[Decoded]
    payload.split("\n", -1).foreach { raw =>
      val line = raw.trim
      if (line.isEmpty) ()
      else if (line.startsWith("#")) {
        val parts = line.split("\\s+", 4)
        if (parts.length >= 4 && parts(1) == "TYPE") types(parts(2)) = parts(3)
        // HELP and plain comments carry no samples
      } else {
        // OpenMetrics exemplars ride sample lines after " # " — metadata
        // for tracing backends, not samples; strip at the first UNQUOTED
        // '#' (a '#' inside a quoted label value is data)
        val noExemplar = {
          var i = 0; var inQ = false; var cut = -1
          while (i < line.length && cut < 0) {
            line.charAt(i) match {
              case '\\' if inQ && i + 1 < line.length => i += 1
              case '"' => inQ = !inQ
              case '#' if !inQ && i > 0 && line.charAt(i - 1) == ' ' => cut = i - 1
              case _ =>
            }
            i += 1
          }
          if (cut >= 0) line.substring(0, cut) else line
        }
        noExemplar match {
        case SampleRe(name, labelBody, value, tsStr) =>
          (Option(labelBody).map(parseLabels).getOrElse(Some(Map.empty[String, String])),
            parsePromValue(value)) match {
            case (Some(tags), Some(v)) =>
              val kind = familyOf(name, types).map(types).getOrElse("untyped")
              // an overflowing timestamp is a reject, not a task failure
              Option(tsStr).map(t => scala.util.Try(t.toLong).toOption) match {
                case Some(None) =>
                  out += Decoded(null, null, 0L, 0.0, null, raw, "malformed timestamp")
                case ts =>
                  out += Decoded(name, tags, ts.flatten.getOrElse(defaultTsMs),
                    v, kind, null, null)
              }
            case (None, _) => out += Decoded(null, null, 0L, 0.0, null, raw, "malformed labels")
            case (_, None) => out += Decoded(null, null, 0L, 0.0, null, raw, "malformed value")
          }
        case _ => out += Decoded(null, null, 0L, 0.0, null, raw, "malformed line")
        }
      }
    }
    out.result()
  }

  /** OpenMetrics exemplars riding sample lines (`name{l} v [ts] # {el}
    * ev [ets]` — public OpenMetrics 1.0 spec): one row per well-formed
    * exemplar, in the exemplar side table's canonical shape (metric,
    * tags, exemplar_labels, ts, value). The sample line itself still
    * decodes via [[parsePromText]], which strips the suffix; a MALFORMED
    * exemplar suffix is ignored, never a sample reject — exemplars are
    * best-effort tracing metadata. Exemplar timestamps are OpenMetrics
    * SECONDS (float), stored as ms; when absent, the sample's own
    * timestamp (else `defaultTsMs`) stands in. */
  def parsePromExemplars(payload: String, defaultTsMs: Long)
      : Seq[(String, Map[String, String], Map[String, String], Long, Double)] = {
    val ExRe = """^\{(.*)\}\s+(\S+)(?:\s+(-?\d+(?:\.\d+)?))?\s*$""".r
    val out = Seq.newBuilder[(String, Map[String, String], Map[String, String], Long, Double)]
    payload.split("\n", -1).foreach { raw =>
      val line = raw.trim
      if (line.nonEmpty && !line.startsWith("#")) {
        // the same unquoted-'#' scan the sample decode uses
        var i = 0; var inQ = false; var cut = -1
        while (i < line.length && cut < 0) {
          line.charAt(i) match {
            case '\\' if inQ && i + 1 < line.length => i += 1
            case '"' => inQ = !inQ
            case '#' if !inQ && i > 0 && line.charAt(i - 1) == ' ' => cut = i - 1
            case _ =>
          }
          i += 1
        }
        if (cut >= 0) {
          val prefix = line.substring(0, cut)
          val suffix = line.substring(cut).trim.stripPrefix("#").trim
          (prefix match {
            case SampleRe(name, labelBody, _, tsStr) =>
              Option(labelBody).map(parseLabels).getOrElse(Some(Map.empty[String, String]))
                .map { tags =>
                  val sampleTs = Option(tsStr)
                    .flatMap(t => scala.util.Try(t.toLong).toOption)
                    .getOrElse(defaultTsMs)
                  (name, tags, sampleTs)
                }
            case _ => None
          }).foreach { case (name, tags, sampleTs) =>
            suffix match {
              case ExRe(elBody, evStr, etsStr) =>
                (parseLabels(elBody), parsePromValue(evStr)) match {
                  case (Some(el), Some(ev)) =>
                    val ets = Option(etsStr)
                      .flatMap(t => scala.util.Try(t.toDouble).toOption)
                      .map(sec => math.round(sec * 1000))
                      .getOrElse(sampleTs)
                    out += ((name, tags, el, ets, ev))
                  case _ => // malformed exemplar: ignore, sample stands
                }
              case _ => // not an exemplar-shaped suffix: plain comment
            }
          }
        }
      }
    }
    out.result()
  }

  /** Streaming exemplar maintenance for a prom-text/OpenMetrics scrape
    * stream: each micro-batch's exemplars append content-dedup'd into
    * `exemplarDir` ([[Ingest.appendExemplarsDedup]] — idempotent, so
    * foreachBatch's at-least-once replay is safe), in the SAME side-table
    * layout the remote-write path maintains. Run it BESIDE the samples
    * ingest on the same payload stream; point a PromApi's
    * `exemplarSource` at `exemplarDir` to serve `/api/v1/query_exemplars`.
    * Give the stream its OWN directory — batch ids are the streaming
    * micro-batch ids and must not collide with another writer's. */
  def startPromTextExemplarIngest(payloads: DataFrame, exemplarDir: String,
                                  checkpointDir: String,
                                  defaultTsMs: Long = 0L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    payloads.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        import batch.sparkSession.implicits._
        // distributed decode (payload bodies never collect to the driver);
        // only the batch's metric-family names do — they bound the dedup
        // anti-join's existing-side scan
        val exs = batch.select(col("body").cast("string")).as[String]
          .flatMap(parsePromExemplars(_, defaultTsMs))
          .toDF("metric", "tags", "exemplar_labels", "ts", "value")
        val metrics = exs.select("metric").distinct().as[String].collect().toSeq
        if (metrics.nonEmpty)
          Ingest.appendExemplarsDedup(batch.sparkSession, exemplarDir,
            exs, metrics, bid.toString)
      }
      .start()

  /** Metric-family metadata from one scrape payload: the `# TYPE` /
    * `# HELP` / `# UNIT` comment lines a Prometheus target exposes (and
    * [[parsePromText]] consumes for histogram-family routing but never
    * persisted until r12 — Grafana calls `/api/v1/metadata` on every
    * dashboard-edit panel). One row per metric family mentioned by any
    * metadata line; absent fields are null so the upsert can merge
    * field-wise ([[Ingest.upsertMetricMeta]]). HELP values un-escape the
    * exposition format's `\\` and `\n`. */
  def parsePromMeta(payload: String): Seq[(String, String, String, String)] = {
    def unescape(s: String): String = {
      val b = new StringBuilder
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '\\' && i + 1 < s.length) {
          s.charAt(i + 1) match {
            case 'n' => b.append('\n')
            case c => b.append(c)
          }
          i += 2
        } else { b.append(s.charAt(i)); i += 1 }
      }
      b.result()
    }
    val typ = collection.mutable.LinkedHashMap.empty[String, String]
    val help = collection.mutable.Map.empty[String, String]
    val unit = collection.mutable.Map.empty[String, String]
    val seen = collection.mutable.LinkedHashSet.empty[String]
    payload.split("\n", -1).foreach { raw =>
      val line = raw.trim
      if (line.startsWith("#")) {
        val parts = line.split("\\s+", 4)
        if (parts.length >= 3 && NameRe.unapplySeq(parts(2)).isDefined) {
          val m = parts(2)
          parts(1) match {
            case "TYPE" if parts.length >= 4 => typ(m) = parts(3).trim; seen += m
            case "HELP" => help(m) = unescape(if (parts.length >= 4) parts(3) else ""); seen += m
            case "UNIT" => unit(m) = if (parts.length >= 4) parts(3).trim else ""; seen += m
            case _ =>
          }
        }
      }
    }
    seen.toSeq.map(m => (m, typ.getOrElse(m, null), help.getOrElse(m, null),
      unit.getOrElse(m, null)))
  }

  /** Metadata rows from a frame of scrape payloads (column `body`):
    * (metric, type, help, unit), nulls for fields a payload didn't carry. */
  def promTextMeta(payloads: DataFrame): DataFrame = {
    import payloads.sparkSession.implicits._
    payloads.select(col("body").cast("string")).as[String]
      .flatMap(parsePromMeta(_))
      .toDF("metric", "type", "help", "unit")
  }

  /** Streaming metadata maintenance for a prom-text scrape stream: each
    * micro-batch's `# TYPE`/`# HELP`/`# UNIT` rows upsert into `metaDir`
    * (last-write-wins field-wise via [[Ingest.upsertMetricMeta]] —
    * idempotent, so foreachBatch's at-least-once replay is safe). Run it
    * BESIDE the samples ingest on the same payload stream; point a
    * PromApi's `metadataDir` at `metaDir` to serve `/api/v1/metadata`. */
  def startPromTextMetaIngest(payloads: DataFrame, metaDir: String,
                              checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    payloads.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val metas = promTextMeta(batch)
        if (!metas.isEmpty)
          Ingest.upsertMetricMeta(batch.sparkSession, metaDir, metas)
      }
      .start()

  /** Decode a frame of scrape payloads (column `body`). */
  def promTextDecode(payloads: DataFrame, defaultTsMs: Long): Dataset[Decoded] = {
    import payloads.sparkSession.implicits._
    payloads.select(col("body").cast("string")).as[String]
      .flatMap(parsePromText(_, defaultTsMs))
  }

  /** Good samples in the canonical shape (see [[influxSamples]]). */
  def promTextSamples(payloads: DataFrame, defaultTsMs: Long): DataFrame =
    promTextDecode(payloads, defaultTsMs).filter(col("err").isNull)
      .withColumn("series_id", SeriesKey.id(col("metric"), col("tags")))
      .select(col("series_id"), col("metric"), col("tags"), col("ts"),
        col("value"), col("kind"))

  /** Staleness markers for a DISAPPEARED scrape target — the text
    * exposition cannot carry upstream's StaleNaN bit pattern, so on the
    * scrape side the marker is SYNTHESIZED, exactly as the upstream
    * scrape loop does: when a target stops answering, append one marker
    * per series the last successful scrape exposed, stamped at the failed
    * scrape's time. The rows are canonical tombstones (`value` NaN,
    * `__stale` = true) that ride the same commit as samples
    * ([[graft.streaming.Ingest.remoteWriteBatch]], which a stream batch
    * runs through [[graft.streaming.Ingest.processCanonicalBatch]]; the
    * flag is kept as payload) and cut the instant lookback immediately —
    * without them a dead target's series linger in instant queries and
    * /federate for the full staleness window.
    *
    * `lastScrape`: the target's last good decode (any frame carrying
    * series_id/metric/tags, e.g. [[promTextSamples]]' output). */
  def staleMarkers(lastScrape: DataFrame, atMs: Long): DataFrame =
    lastScrape
      .select(col("series_id"), col("metric"), col("tags"))
      .dropDuplicates("series_id")
      .withColumn("ts", lit(atMs))
      .withColumn("value", lit(Double.NaN))
      .withColumn("__stale", lit(true))

  /** One scrape-decoded sample row tagged with its TARGET (the scrape
    * loop's unit of tracking — instance URL, or any stable target key). */
  case class ScrapeRow(target: String, series_id: Long, metric: String,
                       tags: Map[String, String], ts: Long, value: Double)

  /** A synthesized staleness tombstone in the canonical marker shape
    * ([[graft.streaming.Ingest.processCanonicalBatch]] stores it like a
    * remote-written StaleNaN row). */
  case class StaleMarkerRow(series_id: Long, metric: String,
                            tags: Map[String, String], ts: Long,
                            value: Double, __stale: Boolean)

  /** Per-target state: the series the last successful scrape exposed and
    * that scrape's timestamp. (package-visible: object-private case
    * classes break the generated deserializer — Janino cannot access a
    * JVM-private member from the codegen'd projection class) */
  private[streaming] case class TargetState(
    series: Map[Long, (String, Map[String, String])], lastTs: Long)

  /** [[ScrapeRow]] plus its event-time column — the watermark column must
    * SURVIVE into the grouped Dataset for EventTimeTimeout (dropping it
    * after withWatermark fails analysis). */
  private[streaming] case class TimedScrape(target: String, series_id: Long,
                                            metric: String,
                                            tags: Map[String, String],
                                            ts: Long, value: Double,
                                            et: java.sql.Timestamp)

  /** STREAMING staleness synthesis for a scrape stream — both upstream
    * scrape-loop cases, as one stateful operator
    * (`flatMapGroupsWithState`, event-time timeout):
    *
    *  - SERIES DISAPPEARED from a live target: a series the target's
    *    previous scrape exposed but the current one doesn't gets a marker
    *    stamped at the current scrape's timestamp (upstream stamps the
    *    scrape that first missed it);
    *  - TARGET VANISHED (dropped from discovery / stopped answering): when
    *    no scrape arrives for `staleAfterMs` past the last one — every
    *    remembered series gets a marker stamped `lastTs + staleAfterMs`,
    *    and the target's state is dropped. By default the gap is measured
    *    on EVENT time via the stream's watermark, so replays are
    *    deterministic — but an event-time timer only fires when the
    *    watermark ADVANCES, which requires SOME target still scraping: if
    *    the whole scrape stream quiesces (gateway restart, agent outage —
    *    exactly when vanish markers matter most) no marker would ever
    *    materialize. `processingTimeFallback = true` switches the timer to
    *    WALL-CLOCK time: markers materialize `staleAfterMs` of real time
    *    after the last scrape even on a fully idle stream (Spark keeps
    *    running timeout-only batches for processing-time timers), at the
    *    cost of replay determinism — a replayed stream re-times the gaps.
    *    Marker timestamps are `lastTs + staleAfterMs` in both modes.
    *
    * A scrape batch arriving OUT OF ORDER (event time at or below the
    * state's high-water mark — possible with `watermarkDelay > 0`) is
    * dropped before diffing: diffing a LATE scrape against a NEWER
    * remembered snapshot would emit spurious markers, regress the
    * snapshot, and pull the vanish timer backwards (r15 advisor finding).
    *
    * Returns ONLY the synthesized marker rows; union them with the sample
    * stream into [[graft.streaming.Ingest.startIngestWithQuota]] (markers
    * are data rows: the commit dedups, hwm-cuts and admits them like
    * samples and stores their `__stale` flag). State is one small map per live target —
    * at 1000 targets x 10k series this is tens of MB across the cluster,
    * partitioned by target, and each micro-batch touches only targets
    * with new scrapes plus expired timers. */
  def scrapeStaleMarkers(decoded: Dataset[ScrapeRow], staleAfterMs: Long,
                         watermarkDelay: String = "0 seconds",
                         processingTimeFallback: Boolean = false)
      : Dataset[StaleMarkerRow] = {
    import decoded.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val withWm = decoded
      .withColumn("et", timestamp_millis(col("ts")))
      .withWatermark("et", watermarkDelay)
      .as[TimedScrape]
    val timeoutConf =
      if (processingTimeFallback) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.EventTimeTimeout
    def armTimer(state: GroupState[TargetState], lastTs: Long): Unit =
      if (processingTimeFallback) state.setTimeoutDuration(staleAfterMs)
      else // the event-time timer must sit past the current watermark
        state.setTimeoutTimestamp(math.max(lastTs + staleAfterMs,
          state.getCurrentWatermarkMs() + 1))
    withWm.groupByKey(_.target)
      .flatMapGroupsWithState[TargetState, StaleMarkerRow](
        OutputMode.Append, timeoutConf) {
        (_, rows: Iterator[TimedScrape], state: GroupState[TargetState]) =>
          if (state.hasTimedOut) {
            // target vanished: one marker per remembered series
            val st = state.get
            val at = st.lastTs + staleAfterMs
            state.remove()
            st.series.iterator.map { case (sid, (m, tags)) =>
              StaleMarkerRow(sid, m, tags, at, Double.NaN, __stale = true)
            }
          } else {
            // scrapes arrive possibly several per micro-batch: compare
            // consecutive scrape snapshots in timestamp order, after
            // dropping anything at or below the remembered high-water
            // mark (late re-delivery must not regress the state)
            val floor = state.getOption.map(_.lastTs).getOrElse(Long.MinValue)
            val scrapes = rows.toSeq.filter(_.ts > floor)
              .groupBy(_.ts).toSeq.sortBy(_._1)
            if (scrapes.isEmpty) {
              // all late; state untouched — but the vanish timer must be
              // RE-ARMED: Spark's GroupState cancels any previously-set
              // timeout whenever the function runs for a group without
              // setting one again, so returning bare here would let one
              // late-only micro-batch permanently disarm the timer (the
              // target could then vanish without markers and its state
              // would leak — r16 advisor finding)
              state.getOption.foreach(s => armTimer(state, s.lastTs))
              Iterator.empty
            }
            else {
              val out = Seq.newBuilder[StaleMarkerRow]
              var prev = state.getOption.map(_.series)
              scrapes.foreach { case (ts, rs) =>
                val cur = rs.map(r => r.series_id -> ((r.metric, r.tags))).toMap
                prev.foreach { p =>
                  (p.keySet -- cur.keySet).foreach { sid =>
                    val (m, tags) = p(sid)
                    out += StaleMarkerRow(sid, m, tags, ts, Double.NaN,
                      __stale = true)
                  }
                }
                prev = Some(cur)
              }
              val lastTs = scrapes.last._1
              state.update(TargetState(prev.get, lastTs))
              armTimer(state, lastTs)
              out.result().iterator
            }
          }
      }
  }
}
