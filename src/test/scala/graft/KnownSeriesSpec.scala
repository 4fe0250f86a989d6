package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.http.{PromApi, ProtoWire, RemoteRead}
import graft.streaming.Ingest
import graft.operators.Quota

/** The write path's held known-series state ([[Ingest.KnownSeries]]): what
  * a drain window costs in Spark terms once the state is held, and that
  * the held state gives the same dedup and quota answers the committed
  * index would — across restarts, write modes, and the drain's
  * crash-repair branch. */
class KnownSeriesSpec extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = GraftSession.builder("local[4]", "4").getOrCreate()

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** At most 2 jobs per metric: a third job under one metric is rejected
    * at depth 2. */
  private val cfg = Quota.QuotaConfig(Seq("metric", "job"), Seq(100L, 2L))

  private def series(metric: String, job: String, ts: Long, v: Double) =
    ProtoWire.PSeries(Seq("__name__" -> metric, "job" -> job),
      Seq(ProtoWire.PSample(v, ts)))

  private def server(dir: String, spool: Boolean): PromApi =
    new PromApi(spark, spark.range(0).toDF(),
      writeSink = Some(PromApi.WriteSink(s"$dir/sink", s"$dir/index", s"$dir/reject", cfg)),
      spoolDrainMs = if (spool) 3600000L else 0L, hwmCompactEvery = 0).start()

  private def post(api: PromApi, s: ProtoWire.PSeries*): Unit =
    RemoteRead.remoteWriteSeries(s, s"http://localhost:${api.boundPort}")

  /** (metric, job, ts, value) of every stored sample. */
  private def sunk(dir: String): Set[(String, String, Long, Double)] =
    spark.read.parquet(s"$dir/sink")
      .select(col("metric"), col("tags")("job"), col("ts"), col("value")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet

  /** (metric, job, reject_depth, quota) of every reject row. */
  private def rejects(dir: String): Set[(String, String, Int, Long)] =
    spark.read.parquet(s"$dir/reject").collect()
      .map(r => (r.getAs[String]("__k0"), r.getAs[String]("__k1"),
        r.getAs[Int]("reject_depth"), r.getAs[Long]("quota"))).toSet

  test("a drain window's Spark footprint: every job runs inside a SQL " +
       "execution that scans no index file, a fixed execution count per " +
       "window, an index delta that shuffles only to gather by metric, a state no " +
       "execution shuffles, and a state whose plan stops growing") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val dir = tmp("graft-footprint")
    val index = new java.io.File(s"$dir/index").toURI.getPath.stripSuffix("/")
    val api = server(dir, spool = true)
    val helper = new AdaptiveSparkPlanHelper {}
    def exchanges(p: SparkPlan): Int = helper.collect(p) { case e: ShuffleExchangeLike => e }.size
    // the RDDs of the held states the windows commit against
    val stateRdds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    def stateRdd: Int = api.knownSeries.get.frame.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.get
    def stateShuffles(p: SparkPlan): Int = helper.collect(p) {
      case e: ShuffleExchangeLike if e.child.exists {
        case r: RDDScanExec => stateRdds.contains(r.rdd.id)
        case _ => false
      } => e
    }.size
    def indexScans(p: SparkPlan): Seq[String] = helper.collect(p) {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toUri.getPath)
    }.flatten.filter(_.startsWith(index))
    // (plan text, exchanges, index scans, state shuffles) per SQL
    // execution and (job group, in a SQL execution, description) per job
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Seq[String], Int)]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean, String)]()
    val qel = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        execs.add((qe.executedPlan.toString, exchanges(qe.executedPlan),
          indexScans(qe.executedPlan), stateShuffles(qe.executedPlan)))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val jl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
        jobs.add((prop("spark.jobGroup.id").getOrElse("none"),
          prop("spark.sql.execution.id").isDefined, prop("spark.job.description").getOrElse("")))
      }
    }
    val sc = spark.sparkContext
    /** One 2-file window: ten standing series advance; in an odd window
      * one new series arrives too. */
    def window(i: Int): Unit = {
      post(api, (0 until 5).map(j => series(s"fp$j", "a", 1000L * i, i.toDouble)): _*)
      post(api, ((5 until 10).map(j => series(s"fp$j", "a", 1000L * i, i.toDouble)) ++
        (if (i % 2 == 1) Seq(series(s"fp_new$i", "a", 1000L * i, i.toDouble)) else Nil)): _*)
      sc.setJobGroup(s"fp-$i", s"drain window $i")
      try api.drainSpool() shouldEqual 2 finally sc.clearJobGroup()
    }
    /** Everything a window ran has been recorded once a later marker is. */
    def settle(i: Int): Unit = {
      sc.setJobGroup(s"fp-mark-$i", "marker")
      try spark.range(1).select(lit(i).as(s"fp_marker_$i")).collect()
      finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000L
      while (!execs.asScala.exists(_._1.contains(s"fp_marker_$i")) &&
             System.currentTimeMillis() < deadline) Thread.sleep(20)
    }
    def planSize = api.knownSeries.get.frame.queryExecution.logical.collect { case p => p }.size
    try {
      window(1) // loads the state from the (empty) index
      spark.listenerManager.register(qel)
      sc.addSparkListener(jl)
      val perWindow = (2 to 3).map { i =>
        execs.clear()
        stateRdds.add(stateRdd)
        window(i)
        settle(i)
        execs.asScala.toSeq.filterNot(_._1.contains(s"fp_marker_$i"))
      }
      spark.listenerManager.unregister(qel)
      sc.removeSparkListener(jl)
      val windowJobs = jobs.asScala.toSeq.filter(j => j._1 == "fp-2" || j._1 == "fp-3")
      windowJobs should not be empty
      // no listing or schema-inference job: those run outside any SQL
      // execution, and every listing job names its paths
      windowJobs.filterNot(_._2) shouldBe empty
      windowJobs.filter(_._3.contains(index)) shouldBe empty
      perWindow.foreach { w =>
        w.flatMap(_._3) shouldBe empty // no execution scans an index file
        w.map(_._4).sum shouldEqual 0 // nor shuffles the held state
        val indexWrite = w.filter(_._1.contains(s"$index/batch_id="))
        indexWrite should have size 1
        // the delta (one row per series) computes on the window's series_id
        // partitioning; its one exchange gathers it by metric for the write
        indexWrite.head._2 shouldEqual 1
        indexWrite.head._1 should include ("hashpartitioning(metric")
      }
      // window flags, the admission probe, sink write, index delta, index
      // write, state advance; a window carrying a new series adds the
      // quota cascade
      perWindow.map(_.size) shouldEqual Seq(6, 7)
      val (afterTwo, cachedAfterTwo) = (planSize, sc.getPersistentRDDs.size)
      (4 to 10).foreach(window)
      planSize shouldEqual afterTwo
      // each advance frees the blocks of the state it replaces
      sc.getPersistentRDDs.size shouldEqual cachedAfterTwo
      // and the held state is the index's fold: ten standing series plus
      // the new ones, each at its newest sample
      val news = (1 to 10 by 2).map(i => s"fp_new$i" -> 1000L * i)
      api.knownSeries.get.frame.select("metric", "hwm").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet shouldEqual
        ((0 until 10).map(j => s"fp$j" -> 10000L) ++ news).toSet
      api.knownSeries.get.frame.count() shouldEqual 15L
    } finally {
      spark.listenerManager.unregister(qel)
      sc.removeSparkListener(jl)
      api.stop()
    }
  }

  test("a server restarted over an existing sink hwm-drops a re-POST of " +
       "committed samples and keeps a full quota full") {
    val dir = tmp("graft-known-restart")
    val a = server(dir, spool = true)
    try {
      post(a, series("m", "a", 1000L, 1.0), series("m", "b", 1000L, 2.0))
      a.drainSpool() shouldEqual 1
    } finally a.stop()
    val b = server(dir, spool = true)
    try {
      // the committed samples again, one newer sample, a third job of m
      post(b, series("m", "a", 1000L, 9.0), series("m", "b", 1000L, 9.0))
      post(b, series("m", "a", 2000L, 3.0), series("m", "c", 1000L, 4.0))
      b.drainSpool() shouldEqual 2
      sunk(dir) shouldEqual Set(("m", "a", 1000L, 1.0), ("m", "b", 1000L, 2.0),
        ("m", "a", 2000L, 3.0))
      rejects(dir) shouldEqual Set(("m", "c", 2, 2L))
    } finally b.stop()
  }

  test("a sync POST and a drain window interleaved over one sink each see " +
       "the other's series") {
    val dir = tmp("graft-known-modes")
    // one server runs one write mode, so the two interleave across
    // restarts: sync, drain, sync
    val s1 = server(dir, spool = false)
    try post(s1, series("m", "a", 1000L, 1.0))
    finally s1.stop()
    val d = server(dir, spool = true)
    try {
      // the sync commit's sample drops; its series counts toward m's quota
      post(d, series("m", "a", 1000L, 7.0), series("m", "b", 1000L, 2.0),
        series("m", "c", 1000L, 3.0))
      d.drainSpool() shouldEqual 1
    } finally d.stop()
    val s2 = server(dir, spool = false)
    try {
      // the drain's sample drops; its admitted series fills m's quota
      post(s2, series("m", "b", 1000L, 8.0), series("m", "b", 2000L, 4.0))
      post(s2, series("m", "d", 1000L, 5.0))
      sunk(dir) shouldEqual Set(("m", "a", 1000L, 1.0), ("m", "b", 1000L, 2.0),
        ("m", "b", 2000L, 4.0))
      rejects(dir) shouldEqual Set(("m", "c", 2, 2L), ("m", "d", 2, 2L))
    } finally s2.stop()
  }

  test("a replayed window that takes the crash-repair branch advances the " +
       "held state: a re-POST after it commits nothing twice") {
    val dir = tmp("graft-known-repair")
    val a = server(dir, spool = true)
    val spoolDir = new java.io.File(s"$dir/sink/_spool")
    val replay = try {
      post(a, series("m", "a", 1000L, 1.0))
      val file = spoolDir.listFiles().filter(_.getName.endsWith(".wr")).head
      val bytes = java.nio.file.Files.readAllBytes(file.toPath)
      a.drainSpool() shouldEqual 1
      (file.getName, bytes)
    } finally a.stop()
    val batchId = replay._1.stripSuffix(".wr")
    // the crash: the sink batch committed, its index delta did not, and
    // the spool file was never cleaned up
    def delete(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(delete)); f.delete(); ()
    }
    delete(new java.io.File(s"$dir/index/batch_id=$batchId"))
    val b = server(dir, spool = true)
    try {
      post(b, series("n", "x", 1000L, 5.0))
      b.drainSpool() shouldEqual 1 // loads a state that lacks m{job=a}
      java.nio.file.Files.write(new java.io.File(spoolDir, replay._1).toPath, replay._2)
      b.drainSpool() shouldEqual 1 // the repair branch
      new java.io.File(s"$dir/index/batch_id=$batchId/_SUCCESS").exists() shouldBe true
      b.knownSeries.get.frame.select("metric").collect().map(_.getString(0))
        .toSet shouldEqual Set("m", "n")
      post(b, series("m", "a", 1000L, 9.0))
      b.drainSpool() shouldEqual 1
      sunk(dir) shouldEqual Set(("m", "a", 1000L, 1.0), ("n", "x", 1000L, 5.0))
    } finally b.stop()
  }

  test("a window whose only rows for a known series all hwm-drop gets the " +
       "verdicts of its deduped rows") {
    val dir = tmp("graft-known-verdicts")
    val (sink, index, reject) = (s"$dir/sink", s"$dir/index", s"$dir/reject")
    import spark.implicits._
    def canonical(rows: (String, String, Long, Double)*) =
      rows.toDF("metric", "job", "ts", "value")
        .select(col("metric"), map(lit("job"), col("job")).as("tags"), col("ts"), col("value"))
    val known = new Ingest.KnownSeries(spark, index)
    Ingest.remoteWriteBatch(canonical(("m", "a", 1000L, 1.0), ("m", "b", 1000L, 2.0)),
      0L, sink, reject, cfg, known)
    // m{job=a} arrives only at its high-water mark; m is full
    val window = canonical(("m", "a", 1000L, 9.0), ("m", "c", 1000L, 3.0),
      ("n", "x", 1000L, 4.0))
    // what admission over the window's deduped rows (the rows that
    // survive the hwm drop) decides, against the committed index
    val survivors = canonical(("m", "c", 1000L, 3.0), ("n", "x", 1000L, 4.0))
    val expected = Quota.admit(spark.read.parquet(index), survivors, cfg)
      .filter(!col("admitted")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(3), r.getLong(4))).toSet
    expected shouldEqual Set(("m", "c", 2, 2L))
    Ingest.remoteWriteBatch(window, 1L, sink, reject, cfg, known)
    spark.read.parquet(s"$reject/batch_id=1").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3)))
      .toSet shouldEqual expected
    sunk(dir) shouldEqual Set(("m", "a", 1000L, 1.0), ("m", "b", 1000L, 2.0),
      ("n", "x", 1000L, 4.0))
  }
}
