package graft.http

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

/** Minimal protobuf wire codec for the Prometheus REMOTE-READ messages —
  * the `/api/v1/read` protobuf+snappy surface (reference
  * http/src/main/scala/filodb/http/PrometheusApiRoute.scala:130, which
  * serves the same route via the prometheus java client lib).
  *
  * No protobuf library resolves in this environment, and the remote-read
  * schema is tiny and frozen (prometheus/prometheus prompb/remote.proto +
  * types.proto — public, stable since 2017), so the five message shapes
  * are encoded/decoded directly against the documented wire format
  * (varint / 64-bit / length-delimited):
  *
  *   ReadRequest  { repeated Query queries = 1; }
  *   Query        { int64 start_timestamp_ms = 1; int64 end_timestamp_ms = 2;
  *                  repeated LabelMatcher matchers = 3; }
  *   LabelMatcher { enum Type { EQ=0 NEQ=1 RE=2 NRE=3 } type = 1;
  *                  string name = 2; string value = 3; }
  *   ReadResponse { repeated QueryResult results = 1; }
  *   WriteRequest { repeated TimeSeries timeseries = 1; }
  *   QueryResult  { repeated TimeSeries timeseries = 1; }
  *   TimeSeries   { repeated Label labels = 1; repeated Sample samples = 2; }
  *   Label        { string name = 1; string value = 2; }
  *   Sample       { double value = 1; int64 timestamp = 2; }
  *
  * WriteRequest TimeSeries additionally decode `exemplars = 3` and NATIVE
  * histograms `histograms = 4` (prompb.Histogram — span/delta bucket
  * encoding, zigzag sint64, packed scalar repeats; see [[PHistogram]]).
  * Remaining unknown fields (hints, accepted response types, metadata)
  * skip by wire type per proto3 rules — a request from a real Prometheus
  * decodes cleanly. Proto3 default-value elision is honored on encode
  * (zero int64/enum and empty strings are omitted), so our bytes match a
  * canonical library encoding byte-for-byte.
  */
object ProtoWire {

  /** Upstream Prometheus' staleness-marker bit pattern (pkg/value
    * StaleNaN): a specific signaling-NaN payload a sender appends when a
    * scrape target disappears. Ordinary float comparison cannot see it
    * (NaN != NaN), so the DECODER must test the raw wire bits — passing
    * the converted double around risks the JVM quieting the signaling
    * bit. Markers are detected here at the bits and carried as a boolean
    * flag (`PSample.stale` / `PHistogram.stale`). */
  val StaleNaNBits: Long = 0x7ff0000000000002L

  // ---- generic wire primitives ----------------------------------------

  final class Writer {
    private[ProtoWire] val out = new ByteArrayOutputStream()

    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7FL) != 0) { out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    private def key(field: Int, wire: Int): Unit = varint((field.toLong << 3) | wire)

    def int64(field: Int, v: Long): Unit =
      if (v != 0L) { key(field, 0); varint(v) }
    def enum(field: Int, v: Int): Unit =
      if (v != 0) { key(field, 0); varint(v.toLong) }
    def double(field: Int, v: Double): Unit =
      // doubles are always written (Sample.value 0.0 would otherwise be
      // ambiguous with absent; Prometheus' own encoder writes it — the
      // one deliberate divergence from default-elision, matching it)
      doubleBits(field, java.lang.Double.doubleToLongBits(v))
    /** Raw 64-bit write — the staleness-marker encode path, where the
      * exact NaN payload ([[StaleNaNBits]]) must reach the wire. */
    def doubleBits(field: Int, bits: Long): Unit = {
      key(field, 1)
      var i = 0
      while (i < 8) { out.write(((bits >>> (8 * i)) & 0xFF).toInt); i += 1 }
    }
    def string(field: Int, s: String): Unit =
      if (s != null && s.nonEmpty) bytes(field, s.getBytes(StandardCharsets.UTF_8))
    def bytes(field: Int, b: Array[Byte]): Unit = {
      key(field, 2); varint(b.length.toLong); out.write(b)
    }
    def message(field: Int, m: Writer): Unit = bytes(field, m.toBytes)
    /** sint64: zigzag varint (proto3 signed scalar encoding). */
    def sint64(field: Int, v: Long): Unit =
      if (v != 0L) { key(field, 0); varint((v << 1) ^ (v >> 63)) }
    /** repeated sint64, packed (the proto3 default for scalar repeats). */
    def packedSint64(field: Int, vs: Seq[Long]): Unit =
      if (vs.nonEmpty) {
        val w = new Writer
        vs.foreach(v => w.varint((v << 1) ^ (v >> 63)))
        bytes(field, w.toBytes)
      }
    /** repeated uint32/uint64, packed (v2 labels_refs). */
    def packedVarint(field: Int, vs: Seq[Long]): Unit =
      if (vs.nonEmpty) {
        val w = new Writer
        vs.foreach(w.varint)
        bytes(field, w.toBytes)
      }
    /** repeated double, packed. */
    def packedDoubles(field: Int, vs: Seq[Double]): Unit =
      if (vs.nonEmpty) {
        val w = new Writer
        vs.foreach { v =>
          val bits = java.lang.Double.doubleToLongBits(v)
          var i = 0
          while (i < 8) { w.out.write(((bits >>> (8 * i)) & 0xFF).toInt); i += 1 }
        }
        bytes(field, w.toBytes)
      }
    def toBytes: Array[Byte] = out.toByteArray
  }

  final class Reader(val buf: Array[Byte], from: Int, val end: Int) {
    var pos: Int = from
    def hasNext: Boolean = pos < end

    def readVarint(): Long = {
      var shift = 0; var v = 0L
      var b = 0
      do {
        if (pos >= end)
          throw new IllegalArgumentException(
            s"malformed protobuf: varint overruns enclosing bound (end=$end)")
        b = buf(pos) & 0xFF; pos += 1
        v |= (b & 0x7FL) << shift; shift += 7
      } while ((b & 0x80) != 0)
      v
    }
    /** returns (fieldNumber, wireType) */
    def readKey(): (Int, Int) = {
      val k = readVarint()
      ((k >>> 3).toInt, (k & 7).toInt)
    }
    def readDouble(): Double =
      java.lang.Double.longBitsToDouble(readDoubleBits())
    /** Raw 64-bit read — staleness-marker detection must compare the wire
      * bits, never the converted double (see [[StaleNaNBits]]). */
    def readDoubleBits(): Long = {
      bounded(8)
      var bits = 0L; var i = 0
      while (i < 8) { bits |= (buf(pos + i) & 0xFFL) << (8 * i); i += 1 }
      pos += 8
      bits
    }
    /** a corrupt length prefix must fail loudly, not silently consume
      * sibling bytes as message content */
    private def bounded(len: Long): Int = {
      if (len < 0 || pos + len > end)
        throw new IllegalArgumentException(
          s"malformed protobuf: length $len overruns enclosing bound " +
            s"(pos=$pos, end=$end)")
      len.toInt
    }
    /** length-delimited payload as a sub-reader */
    def readMessage(): Reader = {
      val len = bounded(readVarint())
      val r = new Reader(buf, pos, pos + len)
      pos += len
      r
    }
    def readString(): String = {
      val len = bounded(readVarint())
      val s = new String(buf, pos, len, StandardCharsets.UTF_8)
      pos += len
      s
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => readVarint()
      case 1 => pos += bounded(8)
      case 2 =>
        // two statements, NOT `pos = pos + bounded(readVarint())`: Scala
        // evaluates the receiver `pos` BEFORE readVarint() advances it,
        // which would under-skip by the length-varint's own byte count
        // and mis-parse payload bytes as field keys (a real Prometheus
        // ReadRequest always carries the unknown `hints` field here)
        val len = bounded(readVarint())
        pos += len
      case 5 => pos += bounded(4)
      case w => throw new IllegalArgumentException(s"unsupported wire type $w")
    }
  }

  // ---- remote-read messages --------------------------------------------

  /** LabelMatcher.Type: 0=EQ 1=NEQ 2=RE 3=NRE */
  case class PMatcher(typ: Int, name: String, value: String)
  case class PQuery(startMs: Long, endMs: Long, matchers: Seq[PMatcher])
  case class PReadRequest(queries: Seq[PQuery])
  /** `stale` = the value's wire bits were upstream's staleness marker
    * ([[StaleNaNBits]], what Prometheus remote-writes when a scrape
    * target disappears); `value` is then NaN. */
  case class PSample(value: Double, ts: Long, stale: Boolean = false)

  /** prompb.Exemplar: a traced observation attached to a series (labels
    * carry e.g. trace_id; value + timestamp are the observation). */
  case class PExemplar(labels: Seq[(String, String)], value: Double, ts: Long)

  /** A decoded prompb.Histogram (Prometheus NATIVE histogram sample,
    * prompb/types.proto — public, stable since v2.40), with the wire's
    * span/delta bucket encoding already expanded to DENSE absolute
    * per-bucket counts: `posCounts(k)` is the count of bucket at absolute
    * index `posOffset + k` (index i covers (base^(i-1), base^i], base =
    * 2^(2^-schema)); gaps between spans are zero-filled. Integer
    * histograms (count_int/`*_deltas`) and float histograms
    * (count_float/`*_counts`) both land here as doubles. Counts are
    * CUMULATIVE-over-time (native histograms are counters) unless
    * `resetHint == 3` (GAUGE). ResetHint: 0=UNKNOWN 1=YES 2=NO 3=GAUGE.
    *
    * NHCB (custom-bucket native histograms, Prometheus v2.51+/v3, schema
    * −53): `customValues` holds the explicit bucket upper bounds; the
    * positive spans then index THAT list (absolute index k ≤ bounds.length
    * means bucket (bounds(k−1), bounds(k)], with index bounds.length the
    * (last bound, +Inf] overflow) — no exponential mapping, no negative
    * buckets, no zero bucket. Empty for exponential-schema histograms. */
  case class PHistogram(ts: Long, schema: Int, zeroThreshold: Double,
                        zeroCount: Double, count: Double, sum: Double,
                        resetHint: Int,
                        posOffset: Int, posCounts: Seq[Double],
                        negOffset: Int, negCounts: Seq[Double],
                        customValues: Seq[Double] = Nil,
                        stale: Boolean = false)

  /** `seriesType` is a STORAGE schema override, not a wire field: null =
    * default (plain samples store as cumulative counters, NHCB histograms
    * as `prom_histogram`); "delta" marks per-interval counter samples and
    * "prom_histogram_delta" per-interval NHCB bucket payloads — both set
    * only by the OTLP delta-temporality opt-in ([[OtlpWire]]). */
  case class PSeries(labels: Seq[(String, String)], samples: Seq[PSample],
                     histograms: Seq[PHistogram] = Nil,
                     exemplars: Seq[PExemplar] = Nil,
                     seriesType: String = null)

  def encodeReadRequest(req: PReadRequest): Array[Byte] = {
    val w = new Writer
    req.queries.foreach { q =>
      val qw = new Writer
      qw.int64(1, q.startMs)
      qw.int64(2, q.endMs)
      q.matchers.foreach { m =>
        val mw = new Writer
        mw.enum(1, m.typ); mw.string(2, m.name); mw.string(3, m.value)
        qw.message(3, mw)
      }
      w.message(1, qw)
    }
    w.toBytes
  }

  def decodeReadRequest(b: Array[Byte]): PReadRequest = {
    val r = new Reader(b, 0, b.length)
    val queries = Seq.newBuilder[PQuery]
    while (r.hasNext) r.readKey() match {
      case (1, 2) =>
        val qr = r.readMessage()
        var start = 0L; var end = 0L
        val ms = Seq.newBuilder[PMatcher]
        while (qr.hasNext) qr.readKey() match {
          case (1, 0) => start = qr.readVarint()
          case (2, 0) => end = qr.readVarint()
          case (3, 2) =>
            val mr = qr.readMessage()
            var typ = 0; var name = ""; var value = ""
            while (mr.hasNext) mr.readKey() match {
              case (1, 0) => typ = mr.readVarint().toInt
              case (2, 2) => name = mr.readString()
              case (3, 2) => value = mr.readString()
              case (_, wt) => mr.skip(wt)
            }
            ms += PMatcher(typ, name, value)
          case (_, wt) => qr.skip(wt)
        }
        queries += PQuery(start, end, ms.result())
      case (_, wt) => r.skip(wt)
    }
    PReadRequest(queries.result())
  }

  /** TimeSeries { repeated Label labels = 1; repeated Sample samples = 2;
    *   repeated Exemplar exemplars = 3; repeated Histogram histograms = 4; }
    * — the one message shape ReadResponse (inside QueryResult) and
    * WriteRequest both carry. */
  private def writeSeries(parent: Writer, field: Int, s: PSeries): Unit = {
    val tw = new Writer
    s.labels.foreach { case (n, v) =>
      val lw = new Writer
      lw.string(1, n); lw.string(2, v)
      tw.message(1, lw)
    }
    s.samples.foreach { smp =>
      val sw = new Writer
      if (smp.stale) sw.doubleBits(1, StaleNaNBits)
      else sw.double(1, smp.value)
      sw.int64(2, smp.ts)
      tw.message(2, sw)
    }
    s.exemplars.foreach { e =>
      val ew = new Writer
      e.labels.foreach { case (n, v) =>
        val lw = new Writer
        lw.string(1, n); lw.string(2, v)
        ew.message(1, lw)
      }
      ew.double(2, e.value); ew.int64(3, e.ts)
      tw.message(3, ew)
    }
    s.histograms.foreach(h => tw.message(4, writeHistogram(h)))
    parent.message(field, tw)
  }

  /** Encode one native histogram. Integral counts take the INTEGER
    * encoding (count_int + zigzag `*_deltas`, the wire a real Prometheus
    * emits for int histograms — exercises the span/delta expansion on the
    * decode side); any fractional count switches the whole message to the
    * FLOAT encoding (count_float + packed `*_counts`). Single dense span
    * per sign, which every decoder must accept. */
  private def writeHistogram(h: PHistogram): Writer = {
    val hw = new Writer
    val integral = (h.posCounts ++ h.negCounts :+ h.zeroCount :+ h.count)
      .forall(c => c == math.rint(c) && !c.isInfinite)
    if (integral) hw.int64(1, h.count.toLong) else hw.double(2, h.count)
    // histogram staleness rides in the SUM field upstream (Go appends
    // &Histogram{Sum: StaleNaN} when a native-histogram target disappears)
    if (h.stale) hw.doubleBits(3, StaleNaNBits) else hw.double(3, h.sum)
    hw.sint64(4, h.schema.toLong)
    hw.double(5, h.zeroThreshold)
    if (integral) hw.int64(6, h.zeroCount.toLong) else hw.double(7, h.zeroCount)
    def span(field: Int, off: Int, len: Int): Unit = {
      val sw = new Writer
      sw.sint64(1, off.toLong) // sint32 shares the zigzag-varint wire shape
      sw.int64(2, len.toLong)
      hw.message(field, sw)
    }
    if (h.negCounts.nonEmpty) {
      span(8, h.negOffset, h.negCounts.length)
      if (integral)
        hw.packedSint64(9, deltaEncode(h.negCounts))
      else hw.packedDoubles(10, h.negCounts)
    }
    if (h.posCounts.nonEmpty) {
      span(11, h.posOffset, h.posCounts.length)
      if (integral)
        hw.packedSint64(12, deltaEncode(h.posCounts))
      else hw.packedDoubles(13, h.posCounts)
    }
    hw.enum(14, h.resetHint)
    hw.int64(15, h.ts)
    if (h.customValues.nonEmpty) hw.packedDoubles(16, h.customValues)
    hw
  }

  /** absolute integral counts → the wire's per-bucket delta encoding
    * (first = absolute, then successive differences). */
  private def deltaEncode(counts: Seq[Double]): Seq[Long] = {
    var prev = 0L
    counts.map { c => val v = c.toLong; val d = v - prev; prev = v; d }
  }

  private def zigzag(v: Long): Long = (v >>> 1) ^ -(v & 1L)

  /** One span/delta bucket list → (firstAbsoluteIndex, dense counts).
    * First span's offset is the absolute start index; each later span's
    * offset is the gap from the previous span's end (prompb BucketSpan
    * contract). Integer histograms carry `deltas` (cumulative within the
    * sample); float histograms carry `counts` directly. */
  private def expandSpans(spans: Seq[(Int, Int)], deltas: Seq[Long],
                          counts: Seq[Double]): (Int, Seq[Double]) = {
    val n = spans.map(_._2).sum
    val got = if (deltas.nonEmpty) deltas.length else counts.length
    if (n == 0) return (0, Nil)
    require(got == n,
      s"malformed native histogram: spans cover $n buckets but $got counts/deltas")
    val sparse = Seq.newBuilder[(Int, Double)]
    var absIdx = 0
    var pos = 0
    var running = 0L
    spans.zipWithIndex.foreach { case ((off, len), si) =>
      absIdx = if (si == 0) off else absIdx + off
      var j = 0
      while (j < len) {
        val c =
          if (deltas.nonEmpty) { running += deltas(pos); running.toDouble }
          else counts(pos)
        sparse += ((absIdx, c)); absIdx += 1; pos += 1; j += 1
      }
    }
    val entries = sparse.result()
    val first = entries.head._1
    val dense = Array.fill(entries.last._1 - first + 1)(0.0)
    entries.foreach { case (i, c) => dense(i - first) = c }
    (first, dense.toSeq)
  }

  private def readHistogram(hr: Reader): PHistogram = {
    var ts = 0L; var schema = 0; var zeroThreshold = 0.0; var zeroCount = 0.0
    var count = 0.0; var sum = 0.0; var resetHint = 0; var stale = false
    val customValues = Seq.newBuilder[Double]
    val posSpans = Seq.newBuilder[(Int, Int)]; val negSpans = Seq.newBuilder[(Int, Int)]
    val posDeltas = Seq.newBuilder[Long]; val negDeltas = Seq.newBuilder[Long]
    val posCounts = Seq.newBuilder[Double]; val negCounts = Seq.newBuilder[Double]
    def readSpan(sr: Reader): (Int, Int) = {
      var off = 0; var len = 0
      while (sr.hasNext) sr.readKey() match {
        case (1, 0) => off = zigzag(sr.readVarint()).toInt
        case (2, 0) => len = sr.readVarint().toInt
        case (_, wt) => sr.skip(wt)
      }
      (off, len)
    }
    // packed scalar repeats arrive length-delimited (wire 2, the proto3
    // default); decoders must also accept the unpacked per-element form
    while (hr.hasNext) hr.readKey() match {
      case (1, 0) => count = hr.readVarint().toDouble
      case (2, 1) => count = hr.readDouble()
      case (3, 1) =>
        val bits = hr.readDoubleBits()
        sum = java.lang.Double.longBitsToDouble(bits)
        stale = bits == StaleNaNBits
      case (4, 0) => schema = zigzag(hr.readVarint()).toInt
      case (5, 1) => zeroThreshold = hr.readDouble()
      case (6, 0) => zeroCount = hr.readVarint().toDouble
      case (7, 1) => zeroCount = hr.readDouble()
      case (8, 2) => negSpans += readSpan(hr.readMessage())
      case (9, 2) =>
        val pr = hr.readMessage()
        while (pr.hasNext) negDeltas += zigzag(pr.readVarint())
      case (9, 0) => negDeltas += zigzag(hr.readVarint())
      case (10, 2) =>
        val pr = hr.readMessage()
        while (pr.hasNext) negCounts += pr.readDouble()
      case (10, 1) => negCounts += hr.readDouble()
      case (11, 2) => posSpans += readSpan(hr.readMessage())
      case (12, 2) =>
        val pr = hr.readMessage()
        while (pr.hasNext) posDeltas += zigzag(pr.readVarint())
      case (12, 0) => posDeltas += zigzag(hr.readVarint())
      case (13, 2) =>
        val pr = hr.readMessage()
        while (pr.hasNext) posCounts += pr.readDouble()
      case (13, 1) => posCounts += hr.readDouble()
      case (14, 0) => resetHint = hr.readVarint().toInt
      case (15, 0) => ts = hr.readVarint()
      // field 16 = custom_values (Prometheus v2.51+/v3 NHCB, schema -53):
      // the explicit bucket-bound list the positive spans index instead of
      // the exponential mapping
      case (16, 2) =>
        val pr = hr.readMessage()
        while (pr.hasNext) customValues += pr.readDouble()
      case (16, 1) => customValues += hr.readDouble()
      case (_, wt) => hr.skip(wt)
    }
    val cv = customValues.result()
    val (pOff, pC) = expandSpans(posSpans.result(), posDeltas.result(), posCounts.result())
    val (nOff, nC) = expandSpans(negSpans.result(), negDeltas.result(), negCounts.result())
    // storable families: the exponential schemas in [-4, 8], and NHCB
    // (schema -53 + a bounds list). Anything else — a -53 with no bounds,
    // bounds on an exponential schema, negative/misindexed NHCB buckets,
    // future schemas — must fail the POST with 400: senders treat 400 as
    // non-retryable, and corrupting storage is worse than dropping an
    // unsupported payload (r10 advisor finding).
    if (schema == -53) {
      if (cv.isEmpty) throw new IllegalArgumentException(
        "malformed NHCB histogram: schema -53 without custom_values bounds")
      if (cv.sorted != cv || cv.distinct != cv) throw new IllegalArgumentException(
        "malformed NHCB histogram: custom_values bounds must be strictly increasing")
      if (nC.nonEmpty || zeroCount != 0.0) throw new IllegalArgumentException(
        "malformed NHCB histogram: custom-bucket histograms have no negative or zero buckets")
      if (pOff < 0 || pOff + pC.length > cv.length + 1) throw new IllegalArgumentException(
        s"malformed NHCB histogram: bucket indexes [$pOff, ${pOff + pC.length})" +
          s" exceed the ${cv.length}-bound list (+1 overflow bucket)")
    } else if (cv.nonEmpty)
      throw new IllegalArgumentException(
        s"malformed native histogram: custom_values with exponential schema $schema")
    else if (schema < -4 || schema > 8)
      throw new IllegalArgumentException(
        s"unsupported native-histogram schema $schema" +
          "; only exponential schemas in [-4, 8] and NHCB (-53) are supported")
    PHistogram(ts, schema, zeroThreshold, zeroCount, count, sum, resetHint,
      pOff, pC, nOff, nC, cv, stale)
  }

  private def readSeries(tr: Reader): PSeries = {
    val labels = Seq.newBuilder[(String, String)]
    val samples = Seq.newBuilder[PSample]
    val exemplars = Seq.newBuilder[PExemplar]
    val histograms = Seq.newBuilder[PHistogram]
    while (tr.hasNext) tr.readKey() match {
      case (1, 2) =>
        val lr = tr.readMessage()
        var n = ""; var v = ""
        while (lr.hasNext) lr.readKey() match {
          case (1, 2) => n = lr.readString()
          case (2, 2) => v = lr.readString()
          case (_, wt) => lr.skip(wt)
        }
        labels += (n -> v)
      case (2, 2) =>
        val sr = tr.readMessage()
        var value = 0.0; var ts = 0L; var stale = false
        while (sr.hasNext) sr.readKey() match {
          case (1, 1) =>
            val bits = sr.readDoubleBits()
            value = java.lang.Double.longBitsToDouble(bits)
            stale = bits == StaleNaNBits
          case (2, 0) => ts = sr.readVarint()
          case (_, wt) => sr.skip(wt)
        }
        samples += PSample(value, ts, stale)
      case (3, 2) =>
        val er = tr.readMessage()
        val elabels = Seq.newBuilder[(String, String)]
        var value = 0.0; var ts = 0L
        while (er.hasNext) er.readKey() match {
          case (1, 2) =>
            val lr = er.readMessage()
            var n = ""; var v = ""
            while (lr.hasNext) lr.readKey() match {
              case (1, 2) => n = lr.readString()
              case (2, 2) => v = lr.readString()
              case (_, wt) => lr.skip(wt)
            }
            elabels += (n -> v)
          case (2, 1) => value = er.readDouble()
          case (3, 0) => ts = er.readVarint()
          case (_, wt) => er.skip(wt)
        }
        exemplars += PExemplar(elabels.result(), value, ts)
      case (4, 2) => histograms += readHistogram(tr.readMessage())
      case (_, wt) => tr.skip(wt)
    }
    PSeries(labels.result(), samples.result(), histograms.result(), exemplars.result())
  }

  /** One QueryResult per request query, in order. */
  def encodeReadResponse(results: Seq[Seq[PSeries]]): Array[Byte] = {
    val w = new Writer
    results.foreach { series =>
      val rw = new Writer
      series.foreach(writeSeries(rw, 1, _))
      w.message(1, rw)
    }
    w.toBytes
  }

  /** Prometheus remote-WRITE request (prompb/remote.proto):
    *   WriteRequest { repeated TimeSeries timeseries = 1; }
    * — the wire every real Prometheus `remote_write` stanza pushes
    * through; same frozen public schema family as the read pair (unknown
    * fields — metadata, exemplars, histograms — skip per proto3 rules). */
  def encodeWriteRequest(series: Seq[PSeries]): Array[Byte] = {
    val w = new Writer
    series.foreach(writeSeries(w, 1, _))
    w.toBytes
  }

  def decodeWriteRequest(b: Array[Byte]): Seq[PSeries] =
    decodeWriteRequest(b, v2 = false, lenient = false)._1

  /** A remote-write body of either wire version → (series, v2 inline
    * metadata, best-effort metric names of the series whose decode
    * failed). `lenient` isolates failures PER SERIES — the spool drain's
    * mode: a TimeSeries frame whose decode fails (e.g. a malformed NHCB
    * bucket layout the ack's framing walk cannot see) is skipped and
    * reported by name, because the payload was already acked and its
    * well-formed series must land. Strict rethrows the first failure — the
    * synchronous POST's whole-payload 400, like upstream. Top-level
    * framing errors throw either way (the drain quarantines the file). */
  def decodeWriteRequest(b: Array[Byte], v2: Boolean, lenient: Boolean)
      : (Seq[PSeries], Seq[PMetaV2], Seq[String]) =
    if (v2) decodeWriteRequestV2Impl(b, lenient)
    else {
      val r = new Reader(b, 0, b.length)
      val series = Seq.newBuilder[PSeries]
      val badMetrics = Seq.newBuilder[String]
      while (r.hasNext) r.readKey() match {
        case (1, 2) =>
          val m = r.readMessage()
          val start = m.pos
          try series += readSeries(m)
          catch { case _: Exception if lenient =>
            badMetrics += seriesMetricOnly(new Reader(m.buf, start, m.end))
          }
        case (_, wt) => r.skip(wt)
      }
      (series.result(), Nil, badMetrics.result())
    }

  /** Best-effort `__name__` of a v1 TimeSeries frame that failed full
    * decode (labels-only walk; any error → ""). Error-report use only. */
  private def seriesMetricOnly(sr: Reader): String =
    try {
      var metric = ""
      while (sr.hasNext && metric.isEmpty) sr.readKey() match {
        case (1, 2) =>
          val lr = sr.readMessage()
          var n: String = null; var v: String = null
          while (lr.hasNext) lr.readKey() match {
            case (1, 2) => n = lr.readString()
            case (2, 2) => v = lr.readString()
            case (_, wt) => lr.skip(wt)
          }
          if (n == "__name__" && v != null) metric = v
        case (_, wt) => sr.skip(wt)
      }
      metric
    } catch { case _: Exception => "" }

  /** Structural WALK of a WriteRequest (v1 or v2) without materializing
    * anything: descends every submessage and validates all wire framing
    * (keys, lengths, varints — the same errors the full decoder throws),
    * returning just the (samples, histograms, exemplars) counts the RW2
    * response headers need. This is the spool-mode ack path's
    * malformed-payload check at a fraction of full-decode cost — no label
    * tuples, no sample objects, zero allocation per row; the REAL decode
    * runs once, at drain time (which quarantines the rare payload whose
    * framing is fine but whose semantics are not, e.g. an out-of-range
    * v2 symbol ref, to `.bad` instead of wedging the drain). */
  def countWriteRequest(b: Array[Byte], isV2: Boolean): (Long, Long, Long) = {
    val tsField = if (isV2) 5 else 1
    val histField = if (isV2) 3 else 4
    val exField = if (isV2) 4 else 3
    // one-level field skim: every key parses and every field body skips
    // by its wire type — validates THIS message's framing without
    // descending into string bytes (strings are not protobuf)
    def skim(m: Reader): Unit =
      while (m.hasNext) { val (_, wt) = m.readKey(); m.skip(wt) }
    var samples = 0L; var hists = 0L; var exemplars = 0L
    val r = new Reader(b, 0, b.length)
    while (r.hasNext) r.readKey() match {
      case (f, 2) if f == tsField =>
        val tr = r.readMessage()
        while (tr.hasNext) tr.readKey() match {
          case (2, 2) => samples += 1; skim(tr.readMessage())
          case (f2, 2) if f2 == histField => hists += 1; skim(tr.readMessage())
          case (f2, 2) if f2 == exField => exemplars += 1; skim(tr.readMessage())
          case (_, wt) => tr.skip(wt) // labels / metadata: length-skip
        }
      case (_, wt) => r.skip(wt) // v2 symbols etc.
    }
    (samples, hists, exemplars)
  }

  // ===== remote-write 2.0 (io.prometheus.write.v2.Request) ==================
  //
  // The Prometheus v3 remote-write wire (public spec + types.proto):
  //   Request    { repeated string symbols = 4; repeated TimeSeries timeseries = 5; }
  //   TimeSeries { repeated uint32 labels_refs = 1 [packed];
  //                repeated Sample samples = 2; repeated Histogram histograms = 3;
  //                repeated Exemplar exemplars = 4; Metadata metadata = 5;
  //                int64 created_timestamp = 6; }
  //   Sample     { double value = 1; int64 timestamp = 2; }
  //   Exemplar   { repeated uint32 labels_refs = 1 [packed];
  //                double value = 2; int64 timestamp = 3; }
  //   Metadata   { MetricType type = 1; uint32 help_ref = 3; uint32 unit_ref = 4; }
  // All label strings are interned in the request-level symbol table
  // (symbols[0] is the empty string by contract); Histogram is the SAME
  // message layout as v1, so the v1 reader applies verbatim.

  /** v2 per-series metadata (the wire's replacement for the v1
    * MetricMetadata side channel): metric family + type/help/unit. */
  case class PMetaV2(metric: String, typ: String, help: String, unit: String)

  private val V2MetricTypes = Array("unknown", "counter", "gauge", "histogram",
    "gaugehistogram", "summary", "info", "stateset", "unknown")

  def decodeWriteRequestV2(b: Array[Byte]): (Seq[PSeries], Seq[PMetaV2]) = {
    val (series, metas, _) = decodeWriteRequestV2Impl(b, lenient = false)
    (series, metas)
  }

  /** The v2 half of [[decodeWriteRequest]]: a series whose decode fails —
    * a malformed histogram, an out-of-range labels ref — is isolated like
    * v1's; a corrupt SYMBOL TABLE still fails the whole payload (nothing
    * can resolve without it). */
  private def decodeWriteRequestV2Impl(b: Array[Byte], lenient: Boolean)
      : (Seq[PSeries], Seq[PMetaV2], Seq[String]) = {
    val r = new Reader(b, 0, b.length)
    val symbols = Seq.newBuilder[String]
    val tsReaders = Seq.newBuilder[Reader]
    // fields may arrive in any order — defer series resolution until the
    // symbol table is complete (Reader slices are independent)
    while (r.hasNext) r.readKey() match {
      case (4, 2) => symbols += r.readString()
      case (5, 2) => tsReaders += r.readMessage()
      case (_, wt) => r.skip(wt)
    }
    val sym = symbols.result().toIndexedSeq
    def symAt(i: Long): String = {
      if (i < 0 || i >= sym.length) throw new IllegalArgumentException(
        s"labels_refs symbol $i out of range (${sym.length} symbols)")
      sym(i.toInt)
    }
    def refsToLabels(refs: Seq[Long]): Seq[(String, String)] = {
      if (refs.length % 2 != 0) throw new IllegalArgumentException(
        s"labels_refs length ${refs.length} is odd (must be name/value pairs)")
      refs.grouped(2).map(p => symAt(p.head) -> symAt(p(1))).toSeq
    }
    val metas = Seq.newBuilder[PMetaV2]
    val badMetrics = Seq.newBuilder[String]
    /** best-effort metric of a failed series frame: labels_refs walk +
      * symbol resolution, every step guarded (error-report use only) */
    def metricOnly(tr: Reader): String =
      try {
        val refs = Seq.newBuilder[Long]
        while (tr.hasNext) tr.readKey() match {
          case (1, 2) =>
            val pr = tr.readMessage()
            while (pr.hasNext) refs += pr.readVarint()
          case (1, 0) => refs += tr.readVarint()
          case (_, wt) => tr.skip(wt)
        }
        refs.result().grouped(2).collectFirst {
          case Seq(n, v) if n >= 0 && n < sym.length && sym(n.toInt) == "__name__" &&
              v >= 0 && v < sym.length => sym(v.toInt)
        }.getOrElse("")
      } catch { case _: Exception => "" }
    val series = tsReaders.result().flatMap { tr =>
      val start = tr.pos
      try Some(readSeriesV2(tr, symAt, refsToLabels, metas))
      catch {
        case e: Exception =>
          if (!lenient) throw e
          badMetrics += metricOnly(new Reader(tr.buf, start, tr.end))
          None
      }
    }
    (series, metas.result().distinct, badMetrics.result())
  }

  /** One v2 TimeSeries frame → PSeries (+ inline metadata side effect). */
  private def readSeriesV2(tr: Reader, symAt: Long => String,
                           refsToLabels: Seq[Long] => Seq[(String, String)],
                           metas: scala.collection.mutable.Builder[PMetaV2, Seq[PMetaV2]])
      : PSeries = {
      val refs = Seq.newBuilder[Long]
      val samples = Seq.newBuilder[PSample]
      val exemplars = Seq.newBuilder[PExemplar]
      val histograms = Seq.newBuilder[PHistogram]
      var mtype = -1; var helpRef = -1L; var unitRef = -1L
      while (tr.hasNext) tr.readKey() match {
        case (1, 2) =>
          val pr = tr.readMessage()
          while (pr.hasNext) refs += pr.readVarint()
        case (1, 0) => refs += tr.readVarint()
        case (2, 2) =>
          val sr = tr.readMessage()
          var value = 0.0; var ts = 0L; var stale = false
          while (sr.hasNext) sr.readKey() match {
            case (1, 1) =>
              val bits = sr.readDoubleBits()
              value = java.lang.Double.longBitsToDouble(bits)
              stale = bits == StaleNaNBits
            case (2, 0) => ts = sr.readVarint()
            case (_, wt) => sr.skip(wt)
          }
          samples += PSample(value, ts, stale)
        case (3, 2) => histograms += readHistogram(tr.readMessage())
        case (4, 2) =>
          val er = tr.readMessage()
          val erefs = Seq.newBuilder[Long]
          var value = 0.0; var ts = 0L
          while (er.hasNext) er.readKey() match {
            case (1, 2) =>
              val pr = er.readMessage()
              while (pr.hasNext) erefs += pr.readVarint()
            case (1, 0) => erefs += er.readVarint()
            case (2, 1) => value = er.readDouble()
            case (3, 0) => ts = er.readVarint()
            case (_, wt) => er.skip(wt)
          }
          exemplars += PExemplar(refsToLabels(erefs.result()), value, ts)
        case (5, 2) =>
          val mr = tr.readMessage()
          while (mr.hasNext) mr.readKey() match {
            case (1, 0) => mtype = mr.readVarint().toInt
            case (3, 0) => helpRef = mr.readVarint()
            case (4, 0) => unitRef = mr.readVarint()
            case (_, wt) => mr.skip(wt)
          }
        case (_, wt) => tr.skip(wt)
      }
      val labels = refsToLabels(refs.result())
      if (mtype >= 0 || helpRef > 0 || unitRef > 0) {
        val metric = labels.collectFirst { case ("__name__", v) => v }.getOrElse("")
        if (metric.nonEmpty)
          metas += PMetaV2(metric,
            V2MetricTypes(math.min(math.max(mtype, 0), V2MetricTypes.length - 1)),
            if (helpRef > 0) symAt(helpRef) else null,
            if (unitRef > 0) symAt(unitRef) else null)
      }
      PSeries(labels, samples.result(), histograms.result(), exemplars.result())
  }

  /** Encode a v2 Request (sender side + spec golden bytes): interns every
    * label/help/unit string into the symbol table, symbols(0) = "". */
  def encodeWriteRequestV2(series: Seq[PSeries],
                           metas: Map[String, (String, String, String)] = Map.empty)
      : Array[Byte] = {
    val table = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    table("") = 0L
    def ref(s: String): Long = table.getOrElseUpdate(s, table.size.toLong)
    val tsWriters = series.map { s =>
      val tw = new Writer
      val refs = s.labels.flatMap { case (n, v) => Seq(ref(n), ref(v)) }
      tw.packedVarint(1, refs)
      s.samples.foreach { p =>
        val sw = new Writer
        if (p.stale) sw.doubleBits(1, StaleNaNBits) else sw.double(1, p.value)
        sw.int64(2, p.ts)
        tw.message(2, sw)
      }
      s.histograms.foreach(h => tw.message(3, writeHistogram(h)))
      s.exemplars.foreach { e =>
        val ew = new Writer
        ew.packedVarint(1, e.labels.flatMap { case (n, v) => Seq(ref(n), ref(v)) })
        ew.double(2, e.value); ew.int64(3, e.ts)
        tw.message(4, ew)
      }
      s.labels.collectFirst { case ("__name__", m) => m }.flatMap(metas.get)
        .foreach { case (typ, help, unit) =>
          val mw = new Writer
          mw.int64(1, math.max(0, V2MetricTypes.indexOf(typ)).toLong)
          if (help != null) mw.int64(3, ref(help))
          if (unit != null) mw.int64(4, ref(unit))
          tw.message(5, mw)
        }
      tw
    }
    val w = new Writer
    // bytes(), not string(): string() elides the empty string, but
    // symbols(0) = "" MUST be on the wire or every ref shifts by one
    table.keys.foreach(s => w.bytes(4, s.getBytes(StandardCharsets.UTF_8)))
    tsWriters.foreach(w.message(5, _))
    w.toBytes
  }

  /** One series list per query result; a malformed series throws
    * IllegalArgumentException naming it. */
  def decodeReadResponse(b: Array[Byte]): Seq[Seq[PSeries]] = {
    val r = new Reader(b, 0, b.length)
    val results = Seq.newBuilder[Seq[PSeries]]
    while (r.hasNext) r.readKey() match {
      case (1, 2) =>
        val qr = r.readMessage()
        val series = Seq.newBuilder[PSeries]
        while (qr.hasNext) qr.readKey() match {
          case (1, 2) =>
            val m = qr.readMessage()
            val start = m.pos
            try series += readSeries(m)
            catch { case e: IllegalArgumentException =>
              throw new IllegalArgumentException(s"malformed series " +
                s"${seriesMetricOnly(new Reader(m.buf, start, m.end))}: ${e.getMessage}", e)
            }
          case (_, wt) => qr.skip(wt)
        }
        results += series.result()
      case (_, wt) => r.skip(wt)
    }
    results.result()
  }
}
