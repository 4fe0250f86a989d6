package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.http.{PromApi, ProtoWire}
import graft.operators.Quota

/** `remote_write`: two Prometheus remote-write senders POST pre-encoded
  * snappy v1 payloads of 2000 samples, one per series, from a standing
  * population of 20k series, to `/api/v1/write` on a server in spool mode
  * whose timer drainer is parked. One benchmark thread calls
  * `drainSpool()` back to back. Each series always travels in the same
  * POST slot of the same sender, so its samples arrive in order; every
  * 50th POST of a sender resends the one it sent 10 POSTs before.
  *
  * The senders run closed loops on the ack, in batches of one full drain
  * window at the engine's default `spoolDrainMaxFiles` (256 POSTs): once a
  * batch is sent they wait until it is visible, then start the next while
  * the window is open. The ack takes milliseconds and a drain seconds, so
  * without a bound the spool would grow for as long as the run lasts and
  * `drainSpool()`, which drains until the spool is empty, would not return. */
final class RemoteWrite(spark: SparkSession, seed: Long, work: String, cores: Int,
                        drainLines: Option[DrainLines]) extends Workload {
  override def tracedHalves: Boolean = true
  private val traffic = new Gen.Traffic(seed, nSeries = 20000, perPost = 2000)
  private val nSenders = 2
  /** POSTs in a batch: the engine's default drain-window cap. */
  private val batch = 256
  /** POSTs in the warm-up batch. */
  private val warmBatch = batch / 4
  /** Batches pre-encoded for a run, the first of them a warm-up: on 4
    * cores one batch takes about 15 s from its first POST to its
    * visibility. */
  private val maxBatches = 4
  /** Scrape rounds pre-encoded per sender: enough for either sender to
    * send 60% of every batch. */
  private val rounds = math.ceil(maxBatches * batch * 0.6 * nSenders / traffic.slots).toInt
  private val resendEvery = 50
  /** The parked drainer: its first tick is a day away. */
  private val parkedDrainMs = 86400000L

  final case class Payload(bytes: Array[Byte], samples: Int, sum: Double, resend: Boolean)

  /** One POST: every series of `slot` at round `r`, labels sorted. */
  private def encode(slot: Int, r: Long): Payload = {
    var sum = 0.0
    val series = traffic.positions(slot).map { p =>
      val s = traffic.series(p, r)
      val v = Gen.value(s, r)
      sum += v
      ProtoWire.PSeries((("__name__" -> s.metric) +: s.tags.toSeq).sortBy(_._1),
        Seq(ProtoWire.PSample(v, Gen.T0 + r * Gen.IntervalMs)))
    }
    Payload(org.xerial.snappy.Snappy.compress(ProtoWire.encodeWriteRequest(series)), series.size, sum,
      resend = false)
  }

  // Every payload is encoded here, before any timed set-up, on all cores:
  // generating and encoding them is the senders' work, not the server's.
  private def encodeAll(keys: Seq[(Int, Int)]): IndexedSeq[Payload] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.traverse(keys.grouped(16).toIndexedSeq)(g => Future(g.map { case (s, r) => encode(s, r) })),
      scala.concurrent.duration.Duration.Inf).flatten
  }
  private val plans: IndexedSeq[IndexedSeq[Payload]] = (0 until nSenders).map { j =>
    val fresh = encodeAll(for {
      r <- 0 until rounds
      s <- 0 until traffic.slots if s % nSenders == j
    } yield (s, r))
    val out = IndexedSeq.newBuilder[Payload]
    var n = 0
    fresh.indices.foreach { k =>
      if ((n + 1) % resendEvery == 0 && k >= 10) { out += fresh(k - 10).copy(resend = true); n += 1 }
      out += fresh(k)
      n += 1
    }
    out.result()
  }

  private var api: PromApi = _
  private var dir: String = _

  private def sinkDir = s"$dir/sink"
  private def indexDir = s"$dir/index"
  private def rejectDir = s"$dir/reject"

  def setup(i: Int): Unit = {
    dir = s"$work/ingest-$i"
    val ws = PromApi.WriteSink(sinkDir, indexDir, rejectDir,
      Quota.QuotaConfig(Seq("metric"), Seq(10000000L)))
    api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
      spoolDrainMs = parkedDrainMs).start()
  }

  def teardown(): Unit = {
    if (api != null) api.stop()
    api = null
    if (dir != null) Files.deleteTree(dir)
  }

  final case class Send(t0: Long, t1: Long, status: Int, p: Payload) {
    def secs: Double = (t1 - t0) / 1e9
  }
  /** One drainSpool() call: nanoTime and wall-clock (for job times) bounds. */
  final case class Drain(t0: Long, t1: Long, fromMs: Long, toMs: Long, files: Int, backlog: Int,
                         group: String)

  /** Flow control, under `flow`: POSTs claimed, POSTs answered (and how
    * many of them acked), when the latest answer came, the claim count at
    * which the current batch ends, and the start of the latest finished
    * drain call. */
  private val flow = new Object
  private var claimed = 0L
  private var answered = 0L
  private var acked = 0L
  private var lastAnswerNs = Long.MinValue
  private var batchEnd = 0L
  private var visibleUpTo = 0L

  def run(window: Window): Outcome = {
    val http = new Http(s"http://localhost:${api.boundPort}")
    val sends = new ConcurrentLinkedQueue[Send]()
    val drains = new ConcurrentLinkedQueue[Drain]()

    def batchVisible = answered == batchEnd && visibleUpTo > lastAnswerNs
    /** Claims the next POST of the current batch; or the first of the next
      * batch, once the current one is visible and the window has begun,
      * while the window is open; false to stop. A smaller first batch is
      * the warm-up: its drain compiles the plans and code paths of the
      * drain windows a batch makes, and the window begins when it is
      * visible. */
    def claim(): Boolean = flow.synchronized {
      while (batchEnd > 0 && claimed == batchEnd && !(batchVisible && window.startNs != Long.MaxValue))
        flow.wait(5)
      if (claimed < batchEnd) { claimed += 1; true }
      else if (batchEnd == 0) { batchEnd = warmBatch; claimed += 1; true }
      else if (window.open) { batchEnd += batch; claimed += 1; true }
      else false
    }

    @volatile var sendersDone = Long.MaxValue
    val senders = plans.indices.map { j =>
      Daemon.start(s"graftbench-sender-$j") {
        val plan = plans(j)
        var k = 0
        while (k < plan.size && claim()) {
          val p = plan(k)
          val t0 = System.nanoTime()
          val status = try http.write(p.bytes) catch { case e: Exception =>
            System.err.println(s"[graftbench] POST failed: $e"); -1 }
          val t1 = System.nanoTime()
          sends.add(Send(t0, t1, status, p))
          flow.synchronized {
            answered += 1
            if (status == 204) acked += 1
            lastAnswerNs = t1
            flow.notifyAll()
          }
          k += 1
        }
        if (k == plan.size) {
          System.err.println(s"[graftbench] sender $j ran out of payloads")
          // the other sender may finish the batch
          flow.synchronized { batchEnd = claimed; flow.notifyAll() }
        }
      }
    }
    val drainer = Daemon.start("graftbench-drain") {
      val spool = new java.io.File(s"$sinkDir/_spool")
      var lastStart = 0L
      var idleAt = -1L
      // until a drain that began after the last answer has finished
      while (lastStart <= sendersDone) {
        // back to back; after a call that found nothing, until the next ack
        val before = flow.synchronized {
          while (acked == idleAt && sendersDone == Long.MaxValue) flow.wait(5)
          acked
        }
        val backlog = if (window.tracer.isEmpty) 0
          else Option(spool.list()).map(_.count(_.endsWith(".wr"))).getOrElse(0)
        val group = s"drain-${drains.size}"
        spark.sparkContext.setJobGroup(group, "drainSpool", false)
        val t0 = System.nanoTime()
        val m0 = System.currentTimeMillis()
        lastStart = t0
        val n = try api.drainSpool() catch { case e: Exception =>
          System.err.println(s"[graftbench] drain failed: $e"); -1 }
        drains.add(Drain(t0, System.nanoTime(), m0, System.currentTimeMillis(), n, backlog, group))
        idleAt = if (n == 0) before else -1L
        flow.synchronized { visibleUpTo = math.max(visibleUpTo, t0); flow.notifyAll() }
      }
    }

    flow.synchronized { while (!(batchEnd > 0 && batchVisible)) flow.wait(5) }
    window.run()
    senders.foreach(_.join())
    sendersDone = System.nanoTime()
    drainer.join()
    window.detach()

    // ----- output checks: the sink holds exactly the acked distinct samples -----
    val all = sends.asScala.toSeq
    val committed = all.filter(s => s.status == 204 && !s.p.resend).map(_.p)
    val wantRows = committed.map(_.samples.toLong).sum
    val wantSum = committed.map(_.sum).sum
    val sink = spark.read.parquet(sinkDir).agg(count(lit(1)), sum(col("value"))).collect().head
    val sinkCheck =
      if (sink.getLong(0) != wantRows) Some(s"sink holds ${sink.getLong(0)} samples, $wantRows were acked")
      else if (math.abs(sink.getDouble(1) - wantSum) > 1e-9 * math.max(1.0, math.abs(wantSum)))
        Some(s"sink values sum to ${sink.getDouble(1)}, the acked samples to $wantSum")
      else None
    val rejected =
      if (Files.dataFiles(rejectDir).exists(_.getName.endsWith(".parquet")))
        spark.read.parquet(rejectDir).count() else 0L
    val rejectCheck = if (rejected == 0) None else Some(s"$rejected samples in the reject dir")
    val checks = Seq(sinkCheck, rejectCheck)
    checks.flatten.foreach(e => System.err.println(s"[graftbench] check failed: $e"))
    val drainSeq = drains.asScala.toSeq
    val attempted = all.size + drainSeq.size + checks.size
    val failed = all.count(_.status != 204) + drainSeq.count(_.files < 0) + checks.count(_.isDefined)

    // ----- figures: the batches after the warm-up ----------------------------
    val measured = all.filter(_.t0 >= window.startNs)
    val fresh = measured.filter(s => s.status == 204 && !s.p.resend)
    val drainSpans = drainSeq.map(d => (d.t0, d.t1))
    def visibleSecs(ss: Seq[Send]) = Stats.visibleLatencies(ss.map(_.t1), drainSpans).map(_ / 1e9)
    val visible = visibleSecs(fresh)
    // committed samples from the first POST to the end of the last drain
    // that committed any
    val lastCommit = drainSeq.filter(_.files > 0).map(_.t1).maxOption.getOrElse(Long.MinValue)
    val ingest = fresh.map(_.p.samples.toLong).sum / ((lastCommit - window.startNs) / 1e9)
    val ackSecs = measured.map(_.secs)
    val e2e = Map(
      "cycle_p50_s" -> Stats.median(visible), "cycle_p90_s" -> Stats.tail(visible)._1,
      "throughput_per_s" -> ingest)
    val detail = Seq(
      Detail("ingest_samples_per_s", ingest, "samples/s", fresh.size),
      Detail("write_ack_p50_s", Stats.median(ackSecs), "s", ackSecs.size),
      Detail.tail("write_ack_p90_s", ackSecs),
      Detail("visible_p50_s", e2e("cycle_p50_s"), "s", visible.size),
      Detail.tail("visible_p90_s", visible),
      Detail("batches", math.ceil(measured.size.toDouble / batch), "count", measured.size),
      Detail("drain_calls", drainSeq.count(d => d.files > 0 && d.t0 >= window.startNs).toDouble, "count",
        drainSeq.size))

    val layers = window.tracer.map { tracer =>
      tracer.settle()
      // drain calls begun in the traced slice, each under its own job group
      val tDrains = drainSeq.filter(d => d.files > 0 && window.traced(d.t0))
      val lines = tDrains.flatMap(d => drainLines.map(_.between(d.t0, d.t1)).getOrElse(Nil))
      def total(f: TaskTotals => Long): Double = tDrains.map(d => f(tracer.totalsOf(d.group))).sum.toDouble
      val perDrain = math.max(1, tDrains.size).toDouble
      val decodeS = Stats.median(plans.head.take(50).map { p =>
        val t0 = System.nanoTime()
        ProtoWire.countWriteRequest(org.xerial.snappy.Snappy.uncompress(p.bytes), false)
        (System.nanoTime() - t0) / 1e9
      })
      val sent = plans.flatten.filterNot(_.resend)
      val sinkFiles = Files.dataFiles(sinkDir).filter(_.getName.endsWith(".parquet"))
      val indexFiles = Files.dataFiles(indexDir).filter(_.getName.endsWith(".parquet"))
      val tv = visibleSecs(fresh.filter(s => window.traced(s.t1)))
      val uv = visibleSecs(fresh.filter(s => window.untraced(s.t1)))
      Map(
        "spark.jobs" -> tDrains.map(d => tracer.jobsOf(d.group).size).sum / perDrain,
        "spark.stages" -> total(_.stages.get) / perDrain,
        "spark.tasks" -> total(_.tasks.get) / perDrain,
        "spark.driver_gap_s" -> Stats.mean(tDrains.map(d =>
          (d.toMs - d.fromMs - tracer.coveredMs(tracer.jobsOf(d.group), d.fromMs, d.toMs)) / 1000.0)),
        "spark.core_busy_ratio" -> tracer.allRunMs / 1000.0 / (window.tracedNs / 1e9 * cores),
        "spark.task_run_s" -> total(_.runMs.get) / 1000.0 / perDrain,
        "spark.task_cpu_s" -> total(_.cpuNs.get) / 1e9 / perDrain,
        "spark.task_gc_s" -> total(_.gcMs.get) / 1000.0 / perDrain,
        "spark.shuffle_write_bytes" -> total(_.shuffleWrite.get) / perDrain,
        "spark.shuffle_read_bytes" -> total(_.shuffleRead.get) / perDrain,
        "spark.shuffle_fetch_wait_s" -> total(_.fetchWaitMs.get) / 1000.0 / perDrain,
        "spark.spill_bytes" -> total(_.spill.get) / perDrain,
        "model.sink_bytes_per_sample" -> (sinkFiles ++ indexFiles).map(_.length).sum.toDouble /
          math.max(1L, sink.getLong(0)),
        "model.sink_files" -> sinkFiles.size.toDouble,
        "model.index_files" -> indexFiles.size.toDouble,
        "operators.quota_rejected_samples" -> rejected.toDouble,
        "http.write_decode_s" -> decodeS,
        "http.write_refused" -> all.count(s => s.status == 429 && window.traced(s.t0)).toDouble,
        "http.write_bytes_per_sample" -> sent.map(_.bytes.length.toLong).sum.toDouble / sent.map(_.samples).sum,
        "streaming.drain_s" -> Stats.mean(tDrains.map(d => (d.t1 - d.t0) / 1e9)),
        "streaming.drain_windows" -> lines.size.toDouble,
        "streaming.drain_files_per_window" -> Stats.mean(lines.map(_.files.toDouble)),
        "streaming.drain_samples_per_window" -> Stats.mean(lines.map(_.samples.toDouble)),
        "streaming.spool_backlog_files" -> Stats.mean(tDrains.map(_.backlog.toDouble)),
        "streaming.drain_decode_s" -> Stats.mean(lines.map(_.decodeS)),
        "streaming.drain_commit_s" -> Stats.mean(lines.map(_.commitS)),
        "streaming.drain_cleanup_s" -> Stats.mean(lines.map(_.cleanupS)),
        "jvm.gc_s" -> window.gcMs / 1000.0, "jvm.heap_peak_mb" -> window.heapPeakMb,
        "jvm.rss_peak_mb" -> Jvm.rssPeakMb,
        "trace.overhead_ratio" -> Stats.median(tv) / Stats.median(uv))
    }
    Outcome(correct = failed == 0, attempted = attempted, failed = failed, e2e = e2e,
      layers = layers.getOrElse(Map.empty), detail = detail)
  }
}
