package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration
import graft.http.{OtlpWire, ProtoWire}

/** The decode half of the write path, for both ingest modes: one wire
  * decode per payload format, one row builder, one canonical assembly.
  * The spool drain runs it on executors over a window's files; the
  * synchronous write path runs the same decode and row builder strictly,
  * on the driver, over one POST body. Both then commit the rows through
  * [[graft.http.PromApi]]'s one `commitRows`, so the two modes cannot
  * drift. The PromQL corpus runner and the remote-read client build their
  * stored-shape frames from in-memory series by the same rules
  * ([[storedFrame]]).
  *
  * The r15 ingest ladder pinned the sustained committed-ingest floor to
  * the DRIVER-side drain: every spool file was read into driver memory,
  * decoded there, and shipped to executors as a LocalRelation embedded in
  * each commit's plan — at 100-TB ingest the driver becomes the funnel
  * every byte squeezes through. Here executor tasks read the window's
  * spool files through the Hadoop `FileSystem` and run the wire codecs
  * ([[ProtoWire]], [[OtlpWire]] — pure functions over `Array[Byte]`)
  * where they read; the driver only ever sees per-file outcome headers
  * and the (tiny) metadata rows.
  *
  * Every write payload the spool holds is named here and nowhere else
  * ([[Payload]]: remote-write v1 `.wr`, v2 `.wr2`, OTLP `.otlp`).
  *
  * Everything a drain window carries flattens into ONE union row shape
  * ([[SpoolRow]]), so a single decode pass feeds the samples commit, the
  * exemplar side table, and the metadata upsert from one cached dataset:
  *
  *   kind 0 = plain sample (incl. staleness-marker tombstones)
  *   kind 1 = exponential native-histogram sample
  *   kind 2 = NHCB sample canonicalized to prom_histogram storage
  *   kind 3 = exemplar
  *   kind 4 = inline metadata (remote-write v2, OTLP metric descriptors)
  *   kind 5 = file failed decode (framing-ok-at-ack, bad-at-drain → the
  *            caller quarantines it to `.bad`)
  *   kind 6 = payload decoded OK (carries its series/sample counts so the
  *            driver can reproduce the `series.isEmpty` no-op check and
  *            ingest-rate accounting without touching the data)
  *   kind 7 = ONE SERIES failed canonicalization inside an otherwise-good
  *            file (e.g. an NHCB payload whose bucket offsets overrun its
  *            bounds list): the bad series alone is dropped-and-counted,
  *            its payload-mates land — upstream 400s the whole write at
  *            POST time (the synchronous path still does), but an acked
  *            spool payload must not lose 999 good series to one
  *            malformed one (whole-file `.bad` quarantine stays for
  *            framing errors, kind 5)
  */
object SpoolDrain {

  /** One decoded wire fact (see kinds above). All payload fields are
    * nullable; `kind` gates which ones are meaningful. Package-visible,
    * not object-private: the generated Dataset deserializer is a separate
    * codegen'd class and Janino cannot access JVM-private members. */
  private[graft] case class SpoolRow(
      kind: Int,
      metric: String = null,
      tags: Map[String, String] = null,
      ts: Long = 0L,
      value: Option[Double] = None,
      stale: Boolean = false,
      seriesType: String = null,
      expScale: Option[Int] = None,
      expOffset: Option[Int] = None,
      expCounts: Seq[Double] = null,
      expZeroCount: Option[Double] = None,
      expZeroThreshold: Option[Double] = None,
      expSum: Option[Double] = None,
      resetHint: Option[Int] = None,
      le: Seq[Double] = null,
      values: Seq[Double] = null,
      histSum: Option[Double] = None,
      exLabels: Map[String, String] = null,
      mTyp: String = null,
      mHelp: String = null,
      mUnit: String = null,
      path: String = null,
      seriesN: Long = 0L,
      samplesN: Long = 0L)

  /** One decoded series → its wire-fact rows. THE row-shape contract for
    * both ingest modes — the value/staleness/bucket canonicalization rules
    * documented at [[graft.http.ProtoWire.PSeries]] and in the reference's
    * gateway semantics live here and nowhere else. */
  private[graft] def seriesRows(s: ProtoWire.PSeries): Seq[SpoolRow] = {
    val metric =
      s.labels.collectFirst { case ("__name__", v) => v }.getOrElse("")
    val tags = s.labels.filter(_._1 != "__name__").toMap
    // series_type is a storage override: "prom_histogram_delta" routes the
    // NHCB payload rows only, never the series' plain samples
    val st = if (s.seriesType == "prom_histogram_delta") null else s.seriesType
    // a stale native-histogram sample (sum = StaleNaN) is a marker for the
    // whole series and carries no bucket payload → plain marker row
    val plain = s.samples.map(p => SpoolRow(0, metric, tags, p.ts,
        Some(if (p.stale) Double.NaN else p.value), p.stale, st)) ++
      s.histograms.filter(_.stale).map(h =>
        SpoolRow(0, metric, tags, h.ts, Some(Double.NaN), stale = true,
          seriesType = st))
    // exponential-schema native histograms: wire bucket i covers
    // (base^(i-1), base^i]; engine exp storage bucket j covers
    // (base^j, base^(j+1)] — shift the offset by one. Negative-bucket mass
    // folds into the zero bucket (sub-zero resolution is lost, the CDF the
    // bucket functions read stays exact).
    val exp = s.histograms.filter(h => !h.stale && h.customValues.isEmpty)
      .map(h => SpoolRow(1, metric, tags, h.ts,
        expScale = Some(h.schema), expOffset = Some(h.posOffset - 1),
        expCounts = h.posCounts,
        expZeroCount = Some(h.zeroCount + h.negCounts.sum),
        expZeroThreshold = Some(h.zeroThreshold), expSum = Some(h.sum),
        resetHint = Some(h.resetHint)))
    // NHCB (schema -53): per-bucket counts over an explicit bounds list →
    // classic prom_histogram storage (le[] bounds, CUMULATIVE-across-le
    // values[]; +Inf overflow entry is the sample's authoritative total)
    val nst =
      if (s.seriesType == "prom_histogram_delta") s.seriesType
      else "prom_histogram"
    val nhcb = s.histograms.filter(h => !h.stale && h.customValues.nonEmpty)
      .map { h =>
        val bounds = h.customValues :+ Double.PositiveInfinity
        val perBucket = Array.fill(bounds.length)(0.0)
        h.posCounts.zipWithIndex.foreach { case (c, k) =>
          perBucket(h.posOffset + k) = c
        }
        val cum = perBucket.scanLeft(0.0)(_ + _).drop(1)
        cum(cum.length - 1) = math.max(h.count, cum(cum.length - 1))
        SpoolRow(2, metric, tags, h.ts, seriesType = nst,
          le = bounds, values = cum.toSeq, histSum = Some(h.sum))
      }
    val ex = s.exemplars.map(e =>
      SpoolRow(3, metric, tags, e.ts, Some(e.value), exLabels = e.labels.toMap))
    plain ++ exp ++ nhcb ++ ex
  }

  /** A write payload format: the spool file extension it publishes under
    * and the wire codec that decodes it. */
  private[graft] sealed abstract class Payload(val ext: String)

  private[graft] object Payload {
    /** prompb WriteRequest (snappy-decompressed). */
    case object RemoteWriteV1 extends Payload("wr")
    /** io.prometheus.write.v2.Request (snappy-decompressed). */
    case object RemoteWriteV2 extends Payload("wr2")
    /** OTLP ExportMetricsServiceRequest (gzip-decompressed). */
    case object Otlp extends Payload("otlp")

    val all: Seq[Payload] = Seq(RemoteWriteV1, RemoteWriteV2, Otlp)

    /** The payload a spool file holds; None for `.tmp`, `.bad` and
      * `.abandoned` leftovers. */
    def of(fileName: String): Option[Payload] =
      all.find(p => fileName.endsWith("." + p.ext))
  }

  /** Decoded (series, metadata) → wire-fact rows: the kind-6 header, then
    * kinds 0–4. Lenient (the drain) turns each series whose
    * canonicalization fails, and each `wireBad` name, into a kind-7 row;
    * strict (the synchronous POST) throws IllegalArgumentException on the
    * first malformed series instead, so the POST answers 400. */
  private[graft] def rows(series: Seq[ProtoWire.PSeries],
                          metas: Seq[ProtoWire.PMetaV2], wireBad: Seq[String],
                          path: String, lenient: Boolean): Seq[SpoolRow] = {
    def metricOf(s: ProtoWire.PSeries): String =
      s.labels.collectFirst { case ("__name__", v) => v }.getOrElse("")
    val decoded = series.map(s => s -> scala.util.Try(seriesRows(s)))
    if (!lenient) decoded.collectFirst { case (s, scala.util.Failure(e)) =>
      throw new IllegalArgumentException(
        s"malformed series ${metricOf(s)}: ${e.getMessage}", e)
    }
    val ok = decoded.collect { case (s, scala.util.Success(r)) => (s, r) }
    val badRows = (wireBad ++ decoded.collect {
      case (s, scala.util.Failure(_)) => metricOf(s)
    }).map(m => SpoolRow(7, m, path = path, seriesN = 1L))
    val metaRows = metas.map(m =>
      SpoolRow(4, m.metric, mTyp = m.typ, mHelp = m.help, mUnit = m.unit))
    SpoolRow(6, path = path, seriesN = ok.size.toLong,
      samplesN = ok.iterator
        .map { case (s, _) => (s.samples.size + s.histograms.size).toLong }.sum) +:
      (ok.flatMap(_._2) ++ badRows ++ metaRows)
  }

  /** One payload body → its wire-fact rows: the payload's wire decode,
    * then [[rows]]; `lenient` as there and in
    * [[ProtoWire.decodeWriteRequest]]. An OTLP body was fully decoded at
    * the ack, so it has no per-series wire failures to isolate. */
  private[graft] def decode(payload: Payload, body: Array[Byte], acceptDelta: Boolean,
                            path: String, lenient: Boolean): Seq[SpoolRow] = {
    val (series, metas, wireBad) = payload match {
      case Payload.Otlp =>
        val (s, m) = OtlpWire.decodeExportRequest(body, acceptDelta)
        (s, m, Nil)
      case rw =>
        ProtoWire.decodeWriteRequest(body, rw == Payload.RemoteWriteV2, lenient)
    }
    rows(series, metas, wireBad, path, lenient)
  }

  /** Decode ONE spool file to its wire-fact rows plus a per-file outcome
    * header (kind 6 ok / kind 5 corrupt). Pure — safe on executors. The
    * wire codec follows the file's [[Payload]] extension; `acceptDelta`
    * is the server's OTLP delta opt-in. */
  private[graft] def decodeFile(path: String, body: Array[Byte],
                                acceptDelta: Boolean = false): Seq[SpoolRow] =
    scala.util.Try {
      // PER-SERIES leniency (kind 7, see the kinds table): a series whose
      // wire decode or canonicalization fails drops alone, by best-effort
      // metric name — the file-level Try around this block keeps catching
      // top-level framing errors (kind 5, whole-file `.bad` quarantine)
      decode(Payload.of(path).get, body, acceptDelta, path, lenient = true)
    }.getOrElse(Seq(SpoolRow(5, path = path)))

  /** The drain window as a DISTRIBUTED decoded dataset: the drain's own
    * listed (path, length) pairs over min(files, defaultParallelism)
    * tasks, each reading and decoding its files through the Hadoop
    * `FileSystem` (bytes never reach the driver, and no file-source scan
    * lists the paths again). Caller must persist/unpersist. */
  private[graft] def decodedFrame(spark: SparkSession, files: Seq[(String, Long)],
                                  acceptDelta: Boolean = false): Dataset[SpoolRow] = {
    import spark.implicits._
    val sc = spark.sparkContext
    val conf = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    val slices = math.min(files.size, sc.defaultParallelism)
    spark.createDataset(sc.parallelize(files, slices).flatMap { case (p, len) =>
      val path = new org.apache.hadoop.fs.Path(p)
      val in = path.getFileSystem(conf.value.value).open(path)
      val body = new Array[Byte](len.toInt)
      try in.readFully(body) finally in.close()
      decodeFile(p, body, acceptDelta)
    })
  }

  /** Aggregate drain-window facts the driver needs before committing —
    * ONE action over the cached decoded dataset. */
  private[graft] case class WindowFlags(badPaths: Seq[String],
                                        seriesTotal: Long, samplesTotal: Long,
                                        anyStale: Boolean, anyTyped: Boolean,
                                        hasExp: Boolean, hasNhcb: Boolean,
                                        hasExemplars: Boolean, hasMetas: Boolean,
                                        badSeries: Long = 0L)

  private[graft] def windowFlags(decoded: Dataset[SpoolRow]): WindowFlags = {
    val agg = decoded.groupBy(col("kind")).agg(
        count(lit(1)).as("n"),
        sum(col("seriesN")).as("series"),
        sum(col("samplesN")).as("samples"),
        max(when(col("stale"), 1).otherwise(0)).as("stale"),
        max(when(col("seriesType").isNotNull, 1).otherwise(0)).as("typed"),
        collect_list(when(col("kind") === 5, col("path"))).as("paths"))
      .collect()
    def row(k: Int) = agg.find(_.getInt(0) == k)
    def has(k: Int) = row(k).isDefined
    WindowFlags(
      badPaths = row(5).map(_.getSeq[String](6).toSeq).getOrElse(Nil),
      seriesTotal = row(6).flatMap(r => Option(r.get(2)).map(_ => r.getLong(2))).getOrElse(0L),
      samplesTotal = row(6).flatMap(r => Option(r.get(3)).map(_ => r.getLong(3))).getOrElse(0L),
      anyStale = row(0).exists(_.getInt(4) == 1),
      anyTyped = row(0).exists(_.getInt(5) == 1),
      hasExp = has(1), hasNhcb = has(2),
      hasExemplars = has(3), hasMetas = has(4),
      badSeries = row(7).map(_.getLong(1)).getOrElse(0L))
  }

  /** [[windowFlags]] of rows already on the driver (one synchronous POST),
    * without the Spark job that would add its latency to every POST. */
  private[graft] def windowFlags(rows: Seq[SpoolRow]): WindowFlags = {
    def has(k: Int) = rows.exists(_.kind == k)
    val headers = rows.filter(_.kind == 6)
    WindowFlags(badPaths = Nil, seriesTotal = headers.map(_.seriesN).sum,
      samplesTotal = headers.map(_.samplesN).sum,
      anyStale = rows.exists(r => r.kind == 0 && r.stale),
      anyTyped = rows.exists(r => r.kind == 0 && r.seriesType != null),
      hasExp = has(1), hasNhcb = has(2), hasExemplars = has(3), hasMetas = has(4))
  }

  /** Wire-fact rows → the canonical samples frame
    * [[Ingest.remoteWriteBatch]] commits. Column-presence rules are part
    * of the sink contract (schema changes only when a commit actually
    * carries the shape — marker-free/untyped sinks keep their exact
    * single-pass plan shapes), so they key on the window flags, never on
    * `df.isEmpty` actions:
    *   - `__stale` only when the window carries a marker;
    *   - `series_type` only when a plain sample is explicitly typed
    *     (OTLP delta opt-in) or an NHCB payload is present;
    *   - exp_* / le-values payload columns only when that storage shape
    *     is present (plus the null-padded NHCB set whenever typed rows
    *     force `series_type`, matching the delta opt-in's bridge). */
  private[graft] def assembleCanonical(decoded: Dataset[SpoolRow],
                                       anyStale: Boolean, anyTyped: Boolean,
                                       hasExp: Boolean, hasNhcb: Boolean)
      : DataFrame = {
    def ensure(df: DataFrame, name: String, typ: String): DataFrame =
      if (df.columns.contains(name)) df
      else df.withColumn(name, lit(null).cast(typ))
    def ensureExp(df: DataFrame): DataFrame = {
      var d = df
      d = ensure(d, "exp_scale", "int")
      d = ensure(d, "exp_offset", "int")
      d = ensure(d, "exp_counts", "array<double>")
      d = ensure(d, "exp_zero_count", "double")
      d = ensure(d, "exp_zero_threshold", "double")
      d = ensure(d, "exp_sum", "double")
      ensure(d, "__reset_hint", "int")
    }
    def ensureNhcb(df: DataFrame): DataFrame = {
      var d = df
      d = ensure(d, "le", "array<double>")
      d = ensure(d, "values", "array<double>")
      d = ensure(d, "hist_sum", "double")
      ensure(d, "series_type", "string")
    }
    var plain = decoded.filter(col("kind") === 0).select(
      col("metric"), col("tags"), col("ts"), col("value"),
      col("stale").as("__stale"), col("seriesType").as("series_type"))
    if (!anyStale) plain = plain.drop("__stale")
    if (!anyTyped) plain = plain.drop("series_type")
    if (!hasExp && !hasNhcb) plain
    else {
      if (hasExp) plain = ensureExp(plain)
      if (hasNhcb || anyTyped) plain = ensureNhcb(plain)
      var out = plain
      if (hasExp) {
        var hist = decoded.filter(col("kind") === 1).select(
            col("metric"), col("tags"), col("ts"),
            col("expScale").as("exp_scale"), col("expOffset").as("exp_offset"),
            col("expCounts").as("exp_counts"),
            col("expZeroCount").as("exp_zero_count"),
            col("expZeroThreshold").as("exp_zero_threshold"),
            col("expSum").as("exp_sum"), col("resetHint").as("__reset_hint"))
          .withColumn("value", lit(null).cast("double"))
        if (anyStale) hist = hist.withColumn("__stale", lit(false))
        val padded = if (!hasNhcb && !anyTyped) hist else ensureNhcb(hist)
        out = out.unionByName(padded.select(out.columns.map(col): _*))
      }
      if (hasNhcb) {
        var nhcb = decoded.filter(col("kind") === 2).select(
            col("metric"), col("tags"), col("ts"), col("le"), col("values"),
            col("histSum").as("hist_sum"), col("seriesType").as("series_type"))
          .withColumn("value", lit(null).cast("double"))
        if (hasExp) nhcb = ensureExp(nhcb)
        if (anyStale) nhcb = nhcb.withColumn("__stale", lit(false))
        out = out.unionByName(nhcb.select(out.columns.map(col): _*))
      }
      out
    }
  }

  /** Decoded in-memory series → the frame the sink stores for them, built
    * by the strict [[rows]] and [[assembleCanonical]] of a synchronous
    * POST. Exp histograms count as already stored: per-interval
    * counts typed "otel_exp_histogram", as [[Ingest.expCumulativeToDelta]]
    * writes them, without its transient `__reset_hint`. A malformed series
    * throws IllegalArgumentException naming it. Callers:
    * [[graft.promql.TestCorpus]] and [[graft.http.RemoteRead.remoteRead]]. */
  private[graft] def storedFrame(spark: SparkSession,
                                 series: Seq[ProtoWire.PSeries]): DataFrame = {
    import spark.implicits._
    val decoded = rows(series, Nil, Nil, path = null, lenient = false)
    val f = windowFlags(decoded)
    val canonical = assembleCanonical(spark.createDataset(decoded),
      f.anyStale, f.anyTyped, f.hasExp, f.hasNhcb)
    if (!f.hasExp) canonical
    else {
      val exp = when(col("exp_counts").isNotNull, lit("otel_exp_histogram"))
      canonical.withColumn("series_type",
          if (canonical.columns.contains("series_type")) exp.otherwise(col("series_type"))
          else exp)
        .drop("__reset_hint")
    }
  }

  /** The exemplar side-table frame of a decoded window (the
    * [[Ingest.appendExemplarsDedup]] input shape — that append content-
    * dedups in-batch itself, so no driver-side distinct is needed). */
  private[graft] def exemplarFrame(decoded: Dataset[SpoolRow]): DataFrame =
    decoded.filter(col("kind") === 3).select(
      col("metric"), col("tags"), col("exLabels").as("exemplar_labels"),
      col("ts"), col("value"))
}
