package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, ExecutorService, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.http.PromApi
import graft.promql.PromPlanner

/** `promql_small`: FiloDB's QueryInMemoryBenchmark shape behind a
  * closed-loop Grafana-style dashboard. 100 series per metric x 720
  * samples at 10 s sit in a cached frame; each refresh fires the 8 panels
  * over `/api/v1/query_range`, `clients` at a time, then one label-values
  * lookup. */
final class Reads(spark: SparkSession, seed: Long, cores: Int,
                  expectedDigests: Option[Seq[String]]) extends Workload {
  private val clients = math.min(4, cores)
  private val nSamples = 720
  private val series = Gen.dashboardSeries(seed, nGauge = 100, nHist = 12)
  private val endMs = Gen.T0 + nSamples * Gen.IntervalMs
  private val startMs = endMs - Dashboard.RangeMs

  private var api: PromApi = _
  private var samples: DataFrame = _

  def setup(i: Int): Unit = {
    samples = Gen.samplesFrame(spark, series, nSamples).cache()
    samples.count()
    api = new PromApi(spark, samples).start()
  }

  def teardown(): Unit = {
    if (api != null) api.stop()
    if (samples != null) samples.unpersist()
    api = null
    samples = null
  }

  final case class Op(panel: Int, t0: Long, t1: Long, status: Int, hash: String) {
    def secs: Double = (t1 - t0) / 1e9
  }
  final case class Refresh(t0: Long, t1: Long, ops: Seq[Op]) {
    def secs: Double = (t1 - t0) / 1e9
  }

  /** Distinct response bodies by (panel, md5); checked after the run. */
  private val bodies = new ConcurrentHashMap[(Int, String), Array[Byte]]()

  private def path(panel: Int): String =
    if (panel < Dashboard.Panels.size) Dashboard.rangePath(Dashboard.Panels(panel), startMs, endMs)
    else Dashboard.labelValuesPath

  private def fetch(http: Http, panel: Int): Op = {
    val t0 = System.nanoTime()
    val (status, body) = try http.get(path(panel)) catch { case e: Exception =>
      System.err.println(s"[graftbench] panel $panel request failed: $e"); (-1, Array.emptyByteArray) }
    val t1 = System.nanoTime()
    val hash = Files.md5(body)
    bodies.putIfAbsent((panel, hash), body)
    Op(panel, t0, t1, status, hash)
  }

  private def refresh(pool: ExecutorService, http: Http): Refresh = {
    val t0 = System.nanoTime()
    val ps = Dashboard.Panels.indices.map(i => pool.submit(() => fetch(http, i))).map(_.get())
    val lv = pool.submit(() => fetch(http, Dashboard.Panels.size)).get()
    Refresh(t0, System.nanoTime(), ps :+ lv)
  }

  // ----- output checks ------------------------------------------------------

  private lazy val raws: Seq[Checks.Raw] = series.filter(s => s.metric == Gen.Gauge && Dashboard.matches(s.tags))
    .map(s => Checks.Raw(s.tags + ("__name__" -> s.metric),
      Array.tabulate(nSamples)(k => Gen.T0 + k * Gen.IntervalMs),
      Array.tabulate(nSamples)(k => Gen.value(s, k.toLong))))
  private lazy val wantRaw = Checks.naiveRaw(raws, startMs, endMs, Dashboard.StepMs)
  private lazy val wantSot = Checks.naiveSumOverTime(raws, startMs, endMs, Dashboard.StepMs, 300000L)
  private lazy val wantInstances = raws.map(_.labels("instance")).distinct.sorted

  /** None when the body is right, else why not. Panels 1 and 4 must match
    * the naive recomputation; with recorded digests for this seed every
    * panel must match its digest; otherwise a panel must not be empty. */
  def verify(panel: Int, body: Array[Byte]): Option[String] =
    try {
      if (panel == Dashboard.Panels.size) {
        val got = Checks.parseLabelValues(body).sorted
        if (got == wantInstances) None else Some(s"label values: ${got.size} vs ${wantInstances.size}")
      } else {
        val r = Checks.parseRange(body)
        val naive = panel match {
          case 0 => Checks.compare(r, wantRaw)
          case 3 => Checks.compare(r, wantSot)
          case _ => if (r.isEmpty) Some("empty result") else None
        }
        naive.orElse(expectedDigests.flatMap { ds =>
          val d = Checks.digest(r)
          if (d == ds(panel)) None else Some(s"digest $d differs from the recorded ${ds(panel)}")
        })
      }
    } catch { case e: Exception => Some(s"unparseable: $e") }

  /** Each panel's digest, after checking panels 1 and 4 against the naive
    * recomputation. */
  def panelDigests(): Seq[String] = {
    val http = new Http(s"http://localhost:${api.boundPort}")
    Dashboard.Panels.indices.map { i =>
      val (status, body) = http.get(path(i))
      require(status == 200, s"panel ${i + 1} answered $status")
      if (i == 0 || i == 3) verify(i, body).foreach(e => sys.error(s"panel ${i + 1}: $e"))
      Checks.digest(Checks.parseRange(body))
    }
  }

  // ----- the run ------------------------------------------------------------

  def run(window: Window): Outcome = {
    val http = new Http(s"http://localhost:${api.boundPort}")
    val pool = Executors.newFixedThreadPool(clients, Daemon.factory("graftbench-client"))
    // warm-up: JIT and codegen settle before timing
    refresh(pool, http)
    val refreshes = new ConcurrentLinkedQueue[Refresh]()
    val loop = Daemon.start("graftbench-dashboard") {
      while (window.startNs == Long.MaxValue) Thread.sleep(1)
      while (window.open) refreshes.add(refresh(pool, http))
    }
    window.run()
    loop.join()
    val all = refreshes.asScala.toSeq
    val verdict = bodies.asScala.map { case (k, b) => k -> verify(k._1, b) }.toMap
    verdict.collect { case ((p, h), Some(e)) => System.err.println(s"[graftbench] panel ${p + 1} body $h: $e") }
    val ops = all.flatMap(_.ops)
    val failed = ops.count(o => o.status != 200 || verdict((o.panel, o.hash)).isDefined)

    val panelSecs = ops.filter(_.panel < Dashboard.Panels.size).map(_.secs)
    val refreshSecs = all.map(_.secs)
    val span = (all.map(_.t1).max - all.map(_.t0).min) / 1e9
    val e2e = Map(
      "cycle_p50_s" -> Stats.median(refreshSecs), "cycle_p90_s" -> Stats.tail(refreshSecs)._1,
      "throughput_per_s" -> panelSecs.size / span)
    val detail = Seq(
      Detail("query_p50_s", Stats.median(panelSecs), "s", panelSecs.size),
      Detail.tail("query_p90_s", panelSecs),
      Detail("refresh_p50_s", e2e("cycle_p50_s"), "s", refreshSecs.size),
      Detail.tail("refresh_p90_s", refreshSecs),
      Detail("panel_queries_per_s", e2e("throughput_per_s"), "1/s", panelSecs.size)) ++
      (0 to Dashboard.Panels.size).map { i =>
        val xs = ops.filter(_.panel == i).map(_.secs)
        Detail(if (i < Dashboard.Panels.size) s"panel${i + 1}_p50_s" else "label_values_p50_s",
          Stats.median(xs), "s", xs.size)
      }

    val layers = window.tracer.map { tracer =>
      tracer.settle()
      // every job in the traced slices came from the HTTP server's threads
      val busy = tracer.allRunMs / 1000.0 / (window.tracedNs / 1e9 * cores)
      val overhead = Stats.median(all.filter(r => window.traced(r.t0)).map(_.secs)) /
        Stats.median(all.filter(r => window.untraced(r.t0)).map(_.secs))
      // standalone layer calls, one at a time, with the tracer attached
      spark.sparkContext.addSparkListener(tracer)
      val probe = new LayerProbe(spark, tracer)
      val ctx = PromPlanner.Ctx(spark, samples, startMs, endMs, Dashboard.StepMs)
      val reps = 3
      val perPanel = Dashboard.Panels.indices.map { i =>
        val ps = (1 to reps).map(_ => probe.query(ctx, Dashboard.Panels(i)))
        val httpS = Stats.median((1 to reps).map(_ => fetch(http, i).secs))
        (ps, httpS - Stats.median(ps.map(_.totalS)))
      }
      val lay = probe.layers(samples, startMs, endMs, reps)
      tracer.settle()
      spark.sparkContext.removeSparkListener(tracer)
      val resultBytes = Stats.mean(Dashboard.Panels.indices.map { i =>
        bodies.asScala.collectFirst { case ((p, _), b) if p == i => b.length.toDouble }.getOrElse(0.0) })
      probe.sparkFigures(perPanel.flatMap(_._1)) ++ lay ++ Map(
        "spark.core_busy_ratio" -> busy,
        "http.query_overhead_s" -> Stats.mean(perPanel.map(_._2)),
        "http.result_bytes" -> resultBytes,
        "jvm.gc_s" -> window.gcMs / 1000.0, "jvm.heap_peak_mb" -> window.heapPeakMb,
        "jvm.rss_peak_mb" -> Jvm.rssPeakMb, "trace.overhead_ratio" -> overhead)
    }
    pool.shutdown()
    Outcome(correct = failed == 0, attempted = ops.size, failed = failed, e2e = e2e,
      layers = layers.getOrElse(Map.empty), detail = detail)
  }
}
