package graft.promql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.http.ProtoWire
import graft.model.SeriesKey

/** Runner for the upstream Prometheus `promql/testdata` `.test` format
  * (public prometheus/prometheus repo, promql/test.go) — `load` blocks
  * building series from the compact expansion notation, `eval instant at`
  * blocks asserting vector/scalar results, `clear` resetting storage:
  *
  * {{{
  * load 5m
  *   http_requests{job="api", instance="0"} 0+10x10
  *   ignored _ _ 3 stale NaN
  *
  * eval instant at 50m sum by (job) (http_requests)
  *   {job="api"} 100
  * }}}
  *
  * Series expansion (upstream expandSeriesVal semantics):
  *  - `a+bxc` / `a-bxc`: arithmetic sequence, c+1 points (start at a)
  *  - `vxc`: v repeated c+1 times
  *  - bare numbers: one point per step; `NaN`, `Inf`, `-Inf` literal
  *  - `_`: no sample at that step
  *  - `stale`: Prometheus staleness marker — a TOMBSTONE row (`__stale` =
  *    true, value NaN): excluded from every range vector by the kernel's
  *    NaN-as-no-sample rule, and CUTTING the instant lookback (a marker
  *    at or after the last live sample makes the series absent at that
  *    step — the window kernel's marker cut, PeriodicSamples' staleCol),
  *    upstream tsdb staleness semantics.
  *
  * Eval directives: `eval instant at <t> <expr>` (unordered vector/scalar
  * compare, 1e-6 relative tolerance, NaN==NaN), `eval_ordered` (ordered —
  * sort/topk results), `eval_fail` (the query must error), and
  * `eval range from S to E step T <expr>` (one expected-value slot per
  * step in load-line expansion notation, `_` = no sample at that step;
  * runs the engine's native range path, not per-step instants).
  *
  * Selectors and expected-line label sets parse through the engine's own
  * [[Parser]] (they are valid PromQL selectors), so the corpus exercises
  * the parser too.
  *
  * Loaded series are stored exactly as a remote-write POST of them would
  * be: [[wireSeries]], then [[graft.streaming.SpoolDrain.storedFrame]].
  */
object TestCorpus {

  case class ExpectedSample(labels: Map[String, String], value: Double)

  /** Upstream native-histogram load literal `{{schema:0 sum:5 count:4
    * buckets:[1 2 1] offset:1 z_bucket:2 z_bucket_w:0.5}}`: one native
    * histogram sample, loaded as the prompb histogram it is on the wire
    * ([[toWire]]; `offset` is the positive-span start, `z_bucket` the zero
    * count, `z_bucket_w` the zero threshold). Exp schemas are stored as
    * given, as otel_exp_histogram rows. Supported fields: schema, sum,
    * count, buckets, offset, z_bucket, z_bucket_w, custom_values
    * (schema:-53 NHCB, stored as classic prom_histogram buckets),
    * counter_reset_hint (parsed, ignored — instant extractors don't
    * consult it). Repeat suffix `x<n>` and `_` gaps compose as for
    * scalar values; a series is either all-histogram or all-scalar, and a
    * histogram series is either all-NHCB or all-exp. */
  case class HistLit(schema: Int, offset: Int, buckets: Seq[Double],
                     zBucket: Double, zBucketW: Double,
                     sum: Double, count: Double,
                     customValues: Seq[Double] = Nil) {
    /** NHCB literal (`schema:-53 custom_values:[...]`). */
    def isCustom: Boolean = customValues.nonEmpty

    /** This literal as the decoded wire sample at `ts`. */
    def toWire(ts: Long): ProtoWire.PHistogram =
      ProtoWire.PHistogram(ts, schema, zeroThreshold = zBucketW,
        zeroCount = zBucket, count = count, sum = sum, resetHint = 0,
        posOffset = offset, posCounts = buckets, negOffset = 0, negCounts = Nil,
        customValues = customValues)
  }

  sealed trait Directive
  /** `seriesType` — null for plain `load`; "delta" for the `load_delta`
    * extension (a graft addition to the upstream notation: per-interval
    * delta-counter series, the storage shape OTLP delta-temporality
    * ingest writes — rate()/increase() dispatch them to the sum-based
    * delta kernel, so the corpus can pin q194-style semantics without an
    * HTTP fixture). */
  case class Load(stepMs: Long, series: Seq[(Map[String, String], Seq[(Long, Double, Boolean)])],
                  histSeries: Seq[(Map[String, String], Seq[(Long, HistLit)])] = Nil,
                  seriesType: String = null) extends Directive
  case class Eval(atMs: Long, expr: String, expected: Seq[ExpectedSample],
                  ordered: Boolean, expectFail: Boolean, line: Int) extends Directive
  /** `eval range from S to E step T expr` — per-series expected values use
    * the same expansion notation as load lines, one slot per step (`_` =
    * no sample at that step). */
  case class EvalRange(startMs: Long, endMs: Long, stepMs: Long, expr: String,
                       expected: Seq[(Map[String, String], Seq[Option[Double]])],
                       line: Int) extends Directive
  case object Clear extends Directive

  case class Outcome(evalsRun: Int, failures: Seq[String])

  /** Parse one .test file's text into directives. */
  def parse(text: String): Seq[Directive] = {
    val lines = text.split('\n')
    val out = Seq.newBuilder[Directive]
    var i = 0
    def isBlank(s: String) = s.trim.isEmpty || s.trim.startsWith("#")
    while (i < lines.length) {
      val line = lines(i).trim
      if (isBlank(line)) i += 1
      else if (line == "clear") { out += Clear; i += 1 }
      else if (line.startsWith("load ") || line.startsWith("load_delta ")) {
        val delta = line.startsWith("load_delta ")
        val step = Parser.parseDuration(
          line.stripPrefix(if (delta) "load_delta " else "load ").trim)
        i += 1
        val series = Seq.newBuilder[(Map[String, String], Seq[(Long, Double, Boolean)])]
        val hists = Seq.newBuilder[(Map[String, String], Seq[(Long, HistLit)])]
        while (i < lines.length && lines(i).startsWith(" ") && !isBlank(lines(i))) {
          val l = lines(i).trim
          if (l.contains("{{")) hists += parseHistSeries(l, step)
          else series += parseSeries(l, step)
          i += 1
        }
        out += Load(step, series.result(), hists.result(),
          if (delta) "delta" else null)
      }
      else if (line.startsWith("eval")) {
        val (ordered, fail, rest) =
          if (line.startsWith("eval_ordered ")) (true, false, line.stripPrefix("eval_ordered "))
          else if (line.startsWith("eval_fail ")) (false, true, line.stripPrefix("eval_fail "))
          else (false, false, line.stripPrefix("eval "))
        val evalLine = i + 1
        if (rest.trim.startsWith("range ")) {
          val rm = "^range\\s+from\\s+(\\S+)\\s+to\\s+(\\S+)\\s+step\\s+(\\S+)\\s+(.*)$".r
            .findFirstMatchIn(rest.trim)
            .getOrElse(throw new IllegalArgumentException(
              s"line $evalLine: unsupported range eval form: $line"))
          if (ordered || fail) throw new IllegalArgumentException(
            s"line $evalLine: eval_ordered/eval_fail not supported for range evals")
          val (s, e2, st) = (parseAt(rm.group(1)), parseAt(rm.group(2)), parseAt(rm.group(3)))
          val expr = rm.group(4)
          i += 1
          val expected = Seq.newBuilder[(Map[String, String], Seq[Option[Double]])]
          while (i < lines.length && lines(i).startsWith(" ") && !isBlank(lines(i))) {
            expected += parseSeriesExpected(lines(i).trim)
            i += 1
          }
          out += EvalRange(s, e2, st, expr, expected.result(), evalLine)
        } else {
          val m = "^instant\\s+at\\s+(\\S+)\\s+(.*)$".r.findFirstMatchIn(rest.trim)
            .getOrElse(throw new IllegalArgumentException(
              s"line $evalLine: unsupported eval form: $line"))
          val at = parseAt(m.group(1))
          val expr = m.group(2)
          i += 1
          val expected = Seq.newBuilder[ExpectedSample]
          while (i < lines.length && lines(i).startsWith(" ") && !isBlank(lines(i))) {
            expected += parseExpected(lines(i).trim)
            i += 1
          }
          out += Eval(at, expr, expected.result(), ordered, fail, evalLine)
        }
      }
      else throw new IllegalArgumentException(s"line ${i + 1}: unrecognized: $line")
    }
    out.result()
  }

  /** `at` times: durations (`50m`), bare seconds, negative durations. */
  private def parseAt(s: String): Long =
    if (s.startsWith("-")) -Parser.parseDuration(s.drop(1))
    else if (s.exists(_.isLetter)) Parser.parseDuration(s)
    else math.round(s.toDouble * 1000)

  /** Split `metric{labels} values...` at the first whitespace OUTSIDE
    * braces. */
  private def splitSelector(line: String): (String, String) = {
    var depth = 0; var idx = -1; var j = 0
    while (j < line.length && idx < 0) {
      line(j) match {
        case '{' => depth += 1
        case '}' => depth -= 1
        case c if c.isWhitespace && depth == 0 => idx = j
        case _ =>
      }
      j += 1
    }
    if (idx < 0) (line, "")
    else (line.substring(0, idx), line.substring(idx).trim)
  }

  /** One load line: `metric{labels} v1 v2 0+10x3 _ stale ...` — a `stale`
    * token becomes a TOMBSTONE row ((ts, NaN, true)): NaN keeps it out of
    * every range vector (kernel no-data rule), the flag drives the
    * instant-lookback cutoff (the window kernel's staleCol). */
  private def parseSeries(line: String, stepMs: Long)
      : (Map[String, String], Seq[(Long, Double, Boolean)]) = {
    val (sel, spec) = splitSelector(line)
    val labels = selectorLabels(sel)
    val samples = expandLoadTokens(spec).zipWithIndex.collect {
      case (Some((v, st)), k) => (k.toLong * stepMs, v, st)
    }
    (labels, samples)
  }

  /** Load-line slots with the staleness-marker flag. */
  private def expandLoadTokens(spec: String): Seq[Option[(Double, Boolean)]] =
    spec.split("\\s+").filter(_.nonEmpty).toSeq.flatMap { tok =>
      if (tok == "stale") Seq(Some((Double.NaN, true)))
      else expandValues(tok).map(_.map(v => (v, false)))
    }

  /** One histogram load line: `metric{labels} {{...}}x3 _ {{...}} ...` —
    * tokens split on whitespace OUTSIDE braces (a `{{...}}` literal
    * contains spaces). */
  private def parseHistSeries(line: String, stepMs: Long)
      : (Map[String, String], Seq[(Long, HistLit)]) = {
    val (sel, spec) = splitSelector(line)
    val labels = selectorLabels(sel)
    val toks = {
      val out = Seq.newBuilder[String]
      val cur = new StringBuilder
      var depth = 0
      spec.foreach {
        case '{' => depth += 1; cur.append('{')
        case '}' => depth -= 1; cur.append('}')
        case c if c.isWhitespace && depth == 0 =>
          if (cur.nonEmpty) { out += cur.result(); cur.clear() }
        case c => cur.append(c)
      }
      if (cur.nonEmpty) out += cur.result()
      out.result()
    }
    val slots: Seq[Option[HistLit]] = toks.flatMap { tok =>
      if (tok == "_") Seq(None)
      else {
        val rep = "^(\\{\\{.*\\}\\})(?:x([0-9]+))?$".r
        rep.findFirstMatchIn(tok) match {
          case Some(m) =>
            val h = parseHistLit(m.group(1))
            val times = Option(m.group(2)).map(_.toInt).getOrElse(0)
            Seq.fill(times + 1)(Some(h))
          case None => throw new IllegalArgumentException(
            s"histogram series mixes scalar tokens: $tok")
        }
      }
    }
    val lits = slots.flatten
    require(lits.map(_.isCustom).distinct.size <= 1,
      s"series $sel mixes NHCB and exp histogram literals")
    lits.filter(_.isCustom).foreach(h => require(h.count + 1e-9 >= h.buckets.sum,
      s"NHCB literal count < bucket mass: $sel"))
    (labels, slots.zipWithIndex.collect { case (Some(h), k) => (k.toLong * stepMs, h) })
  }

  /** `{{schema:0 sum:5 count:4 buckets:[1 2 1] offset:1 ...}}` */
  private def parseHistLit(tok: String): HistLit = {
    val body = tok.stripPrefix("{{").stripSuffix("}}").trim
    var fields = Map.empty[String, String]
    // split `k:v` fields on whitespace outside [...]
    val cur = new StringBuilder
    var depth = 0
    def flush(): Unit = if (cur.nonEmpty) {
      val kv = cur.result(); cur.clear()
      val idx = kv.indexOf(':')
      if (idx < 0) throw new IllegalArgumentException(s"bad histogram field: $kv")
      fields += kv.substring(0, idx) -> kv.substring(idx + 1)
    }
    body.foreach {
      case '[' => depth += 1; cur.append('[')
      case ']' => depth -= 1; cur.append(']')
      case c if c.isWhitespace && depth == 0 => flush()
      case c => cur.append(c)
    }
    flush()
    def buckets(s: String): Seq[Double] =
      s.stripPrefix("[").stripSuffix("]").split("\\s+").filter(_.nonEmpty)
        .map(_.toDouble).toSeq
    val bk = fields.get("buckets").map(buckets).getOrElse(Nil)
    val cv = fields.get("custom_values").map(buckets).getOrElse(Nil)
    if (cv.nonEmpty) {
      require(fields.get("schema").map(_.toInt).contains(-53),
        s"custom_values requires schema:-53: $tok")
      require(cv == cv.sorted && cv.distinct == cv,
        s"custom_values must be strictly increasing: $tok")
      require(bk.size <= cv.size + 1,
        s"more buckets than custom bounds (+1 overflow): $tok")
    }
    HistLit(
      schema = fields.get("schema").map(_.toInt).getOrElse(0),
      offset = fields.get("offset").map(_.toInt).getOrElse(0),
      buckets = bk,
      zBucket = fields.get("z_bucket").map(_.toDouble).getOrElse(0.0),
      zBucketW = fields.get("z_bucket_w").map(_.toDouble).getOrElse(0.0),
      sum = fields.get("sum").map(num).getOrElse(0.0),
      count = fields.get("count").map(num).getOrElse(
        bk.sum + fields.get("z_bucket").map(_.toDouble).getOrElse(0.0)),
      customValues = cv)
  }

  /** One range-eval expected line: `series{labels} v0 v1 _ 0+5x2 ...`,
    * one slot per evaluation step. */
  private def parseSeriesExpected(line: String): (Map[String, String], Seq[Option[Double]]) = {
    val (sel, spec) = splitSelector(line)
    (selectorLabels(sel), expandValues(spec))
  }

  /** Parse a selector/label-set string into its equality label map via the
    * engine's own parser. */
  def selectorLabels(sel: String): Map[String, String] = {
    if (sel.trim == "{}") return Map.empty // a matcherless set is not a legal SELECTOR
    val expr = Parser.parse(if (sel.startsWith("{")) sel else sel.trim)
    expr match {
      case s: Selector =>
        val base = s.metric.map(m => Map("__name__" -> m)).getOrElse(Map.empty)
        base ++ s.matchers.collect {
          case LabelMatcher(n, MatchOp.Eq, v) => n -> v
        }
      case other => throw new IllegalArgumentException(
        s"not a plain selector: $sel ($other)")
    }
  }

  /** Upstream expandSeriesVal: `a+bxc`/`a-bxc` arithmetic (c+1 points),
    * `vxc` repeat (c+1 points), bare numbers, `_` gaps, `stale`. */
  private[promql] def expandValues(spec: String): Seq[Option[Double]] =
    spec.split("\\s+").filter(_.nonEmpty).toSeq.flatMap { tok =>
      if (tok == "_") Seq(None)
      else {
        val rx = "^([+-]?[0-9.eE+-]*?[0-9.])(?:([+-])([0-9.eE]+))?x([0-9]+)$".r
        rx.findFirstMatchIn(tok) match {
          case Some(m) =>
            val start = m.group(1).toDouble
            val inc = (Option(m.group(2)), Option(m.group(3))) match {
              case (Some("-"), Some(d)) => -d.toDouble
              case (Some("+"), Some(d)) => d.toDouble
              case _ => 0.0
            }
            val times = m.group(4).toInt
            (0 to times).map(k => Some(start + inc * k))
          case None => Seq(Some(num(tok)))
        }
      }
    }

  private def num(s: String): Double = s match {
    case "NaN" => Double.NaN
    case "Inf" | "+Inf" => Double.PositiveInfinity
    case "-Inf" => Double.NegativeInfinity
    case v => v.toDouble
  }

  /** One expected line: `{labels} value` or `metric{labels} value` or
    * `metric value` — or a bare scalar for scalar-typed queries. */
  private def parseExpected(line: String): ExpectedSample = {
    val lastSpace = line.lastIndexOf(' ')
    if (lastSpace < 0) ExpectedSample(Map.empty, num(line))
    else {
      val (selPart, vPart) = (line.substring(0, lastSpace).trim, line.substring(lastSpace + 1))
      if (selPart.isEmpty) ExpectedSample(Map.empty, num(vPart))
      else ExpectedSample(selectorLabels(selPart), num(vPart))
    }
  }

  // ===== execution =========================================================

  /** The loaded series as the decoded remote-write series they stand for:
    * plain slots as samples (`stale` as the marker), `{{...}}` literals as
    * native histograms, `load_delta` as the "delta" series type. */
  private[graft] def wireSeries(loads: Seq[Load]): Seq[ProtoWire.PSeries] =
    loads.flatMap { l =>
      l.series.map { case (labels, samples) =>
        ProtoWire.PSeries(labels.toSeq,
          samples.map { case (ts, v, stale) => ProtoWire.PSample(v, ts, stale) },
          seriesType = l.seriesType)
      } ++ l.histSeries.map { case (labels, hs) =>
        ProtoWire.PSeries(labels.toSeq, Nil,
          hs.map { case (ts, h) => h.toWire(ts) }, seriesType = l.seriesType)
      }
    }

  private def relEq(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || a == b ||
      math.abs(a - b) <= 1e-6 * math.max(math.abs(a), math.abs(b))

  /** Run a parsed corpus against the engine; returns counts + failures
    * (one message per failed eval, capped by the caller's patience). */
  def run(spark: SparkSession, directives: Seq[Directive],
          lookbackMs: Long = PromPlanner.DefaultLookbackMs): Outcome = {
    var loads = Seq.empty[Load]
    // built once per load state, on the first eval after a Load or Clear
    var frame: Option[DataFrame] = None
    def samplesNow: DataFrame = frame.getOrElse {
      val f = graft.streaming.SpoolDrain.storedFrame(spark, wireSeries(loads))
      frame = Some(f); f
    }
    var evals = 0
    val failures = Seq.newBuilder[String]
    directives.foreach {
      case l: Load => loads :+= l; frame = None
      case Clear => loads = Seq.empty; frame = None
      case e: EvalRange =>
        evals += 1
        val samples = samplesNow
        val ctx = PromPlanner.Ctx(spark, samples, e.startMs, e.endMs, e.stepMs,
          lookbackMs = lookbackMs)
        val attempt = scala.util.Try {
          val ast = PromPlanner.resolveStepDurations(Parser.parse(e.expr), e.stepMs)
          PromPlanner.planVector(ctx, ast)
            .select(col("__key"), col("step_ts"), col("value")).collect()
            .map(r => (SeriesKey.decode(r.getString(0)).toMap, r.getLong(1)) -> r.getDouble(2))
            .toMap
        }
        attempt match {
          case scala.util.Failure(ex) =>
            failures += s"line ${e.line}: ${e.expr} — threw ${ex.getMessage}"
          case scala.util.Success(got) =>
            val steps = (e.startMs to e.endMs by e.stepMs).toIndexedSeq
            val want: Map[(Map[String, String], Long), Double] = (for {
              (lbls, slots) <- e.expected
              (slot, i) <- slots.zipWithIndex
              if i < steps.size
              v <- slot
            } yield (lbls, steps(i)) -> v).toMap
            val missing = want.collect {
              case (k, wv) if !got.get(k).exists(relEq(_, wv)) =>
                s"${renderOne(k._1)} @${k._2 / 1000}s want $wv got ${got.get(k).map(_.toString).getOrElse("none")}"
            }
            val extra = got.keys.filterNot(want.contains).map {
              case (l, ts) => s"${renderOne(l)} @${ts / 1000}s = ${got((l, ts))} (unexpected)"
            }
            if (missing.nonEmpty || extra.nonEmpty)
              failures += s"line ${e.line}: ${e.expr}\n  " +
                (missing ++ extra).take(8).mkString("\n  ")
        }
      case e: Eval =>
        evals += 1
        val samples = samplesNow
        val ctx = PromPlanner.Ctx(spark, samples, e.atMs, e.atMs, 1000L,
          lookbackMs = lookbackMs)
        val attempt = scala.util.Try {
          val ast = PromPlanner.resolveStepDurations(Parser.parse(e.expr), 1000L)
          val df = PromPlanner.planVector(ctx, ast)
          val rows = df.select(col("__key"), col("value")).collect()
            .map(r => (SeriesKey.decode(r.getString(0)).toMap, r.getDouble(1))).toSeq
          (PromPlanner.isScalarTyped(ast), rows)
        }
        (attempt, e.expectFail) match {
          case (scala.util.Failure(_), true) => // expected error
          case (scala.util.Failure(ex), false) =>
            failures += s"line ${e.line}: ${e.expr} — threw ${ex.getMessage}"
          case (scala.util.Success(_), true) =>
            failures += s"line ${e.line}: ${e.expr} — expected failure, succeeded"
          case (scala.util.Success((scalarTyped, rows)), false) =>
            val got =
              if (scalarTyped)
                Seq(Map.empty[String, String] ->
                  rows.headOption.map(_._2).getOrElse(Double.NaN))
              else rows.map { case (l, v) => l -> v }
            val want = e.expected.map(x => x.labels -> x.value)
            val ok =
              if (e.ordered)
                got.size == want.size && got.zip(want).forall {
                  case ((gl, gv), (wl, wv)) => gl == wl && relEq(gv, wv)
                }
              else
                got.size == want.size &&
                  want.forall { case (wl, wv) =>
                    got.exists { case (gl, gv) => gl == wl && relEq(gv, wv) } } &&
                  got.map(_._1).distinct.size == got.size
            if (!ok)
              failures += s"line ${e.line}: ${e.expr}\n  want: ${render(want)}\n  got:  ${render(got)}"
        }
    }
    Outcome(evals, failures.result())
  }

  private def renderOne(l: Map[String, String]): String =
    l.toSeq.sorted.map { case (k, x) => s"""$k="$x"""" }.mkString("{", ",", "}")

  private def render(xs: Seq[(Map[String, String], Double)]): String =
    xs.sortBy(_._1.toSeq.sorted.mkString)
      .map { case (l, v) => renderOne(l) + s" $v" }.mkString("; ")
}
