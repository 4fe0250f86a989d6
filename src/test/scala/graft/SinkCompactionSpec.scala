package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.streaming.Ingest
import graft.operators.Quota

/** Samples-sink batch-dir compaction ([[Ingest.compactSink]]): the fold
  * must change FILE LAYOUT and nothing else — query results byte-identical
  * before/after, hwm/dedup semantics untouched, prior fold outputs never
  * re-folded (so retention granularity survives), and every crash window
  * of the journaled swap repaired to a consistent layout. The reference's
  * analogous lifecycle is the chunk flush + compaction pipeline
  * (ref:core/src/main/scala/filodb.core/memstore/TimeSeriesShard.scala). */
class SinkCompactionSpec extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = GraftSession.builder("local[4]", "4").getOrCreate()

  private val cfg = Quota.QuotaConfig(Seq("metric"), Seq(1000000L))

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def fsFor(dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def plainBatch(id: Int, ts: Long, metrics: Seq[String]): DataFrame = {
    import spark.implicits._
    metrics.map(m => (m, Map("i" -> id.toString), ts, 1.0 * id))
      .toDF("metric", "tags", "ts", "value")
  }

  private def nhcbBatch(ts: Long): DataFrame = {
    import spark.implicits._
    Seq(("h", Map.empty[String, String], ts, None: Option[Double],
      Seq(1.0, Double.PositiveInfinity), Seq(1.0, 2.0), 3.0, "prom_histogram"))
      .toDF("metric", "tags", "ts", "value", "le", "values", "hist_sum",
        "series_type")
  }

  /** Full-store content fingerprint, layout-independent: every data column
    * (batch_id excluded — the fold reassigns it) JSON-encoded per row. */
  private def snapshot(sink: String): Set[String] = {
    val df = spark.read.option("mergeSchema", "true").parquet(sink)
      .drop("batch_id")
    val cols = df.columns.sorted
    df.select(to_json(struct(cols.map(col): _*))).collect()
      .map(_.getString(0)).toSet
  }

  private def batchDirs(sink: String): Seq[String] =
    fsFor(sink).listStatus(new org.apache.hadoop.fs.Path(sink))
      .map(_.getPath.getName).filter(_.startsWith("batch_id="))
      .sortBy(_.stripPrefix("batch_id=").toLong).toSeq

  private def dataFiles(sink: String): Int = {
    val fs = fsFor(sink)
    def walk(p: org.apache.hadoop.fs.Path): Int =
      fs.listStatus(p).map { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.startsWith("_") ||
                 st.getPath.getName.startsWith(".")) 0
        else 1
      }.sum
    walk(new org.apache.hadoop.fs.Path(sink))
  }

  test("compactSink folds old batch dirs into ONE consolidated dir with " +
       "byte-identical query results over heterogeneous schemas, keeps the " +
       "newest dirs, marks the fold _COMPACTED, and leaves hwm dedup intact") {
    val dir = tmp("graft-sinkcompact")
    val (sink, index) = (s"$dir/sink", s"$dir/index")
    val known = new Ingest.KnownSeries(spark, index)
    // 12 commits: 10 plain + an NHCB-typed one (schema superset via
    // mergeSchema) + a final plain one — the fold must carry optional
    // columns through null-padded, exactly as readers see them
    (0 until 10).foreach(i => Ingest.remoteWriteBatch(
      plainBatch(i, 1000L * (i + 1), Seq("m", "n")), i.toLong,
      sink, s"$dir/reject", cfg, known))
    Ingest.remoteWriteBatch(nhcbBatch(20000L), 10L, sink, s"$dir/reject", cfg, known)
    Ingest.remoteWriteBatch(plainBatch(11, 21000L, Seq("m")), 11L,
      sink, s"$dir/reject", cfg, known)
    val before = snapshot(sink)
    val filesBefore = dataFiles(sink)
    batchDirs(sink) should have size 12
    val folded = Ingest.compactSink(spark, sink, keepBatches = 2, minBatches = 4)
    folded.map(_._1) shouldEqual Some(10) // 12 - keepBatches
    // physical collapse: one consolidated dir (id = max folded) + 2 kept
    batchDirs(sink) shouldEqual Seq("batch_id=9", "batch_id=10", "batch_id=11")
    val fs = fsFor(sink)
    fs.exists(new org.apache.hadoop.fs.Path(
      s"$sink/batch_id=9/_COMPACTED")) shouldBe true
    fs.exists(new org.apache.hadoop.fs.Path(
      s"$sink/batch_id=9/_SUCCESS")) shouldBe true
    dataFiles(sink) should be < filesBefore
    // results byte-identical (the whole point)
    snapshot(sink) shouldEqual before
    // no journal or hidden dirs left behind
    fs.exists(new org.apache.hadoop.fs.Path(s"$sink/_compact_journal")) shouldBe false
    fs.listStatus(new org.apache.hadoop.fs.Path(sink))
      .map(_.getPath.getName).count(_.startsWith("_folded-")) shouldEqual 0
    // a second run has nothing foldable (the fold is _COMPACTED, only 2
    // non-compacted dirs remain — below minBatches)
    Ingest.compactSink(spark, sink, keepBatches = 2, minBatches = 4) shouldEqual None
    // hwm semantics untouched: a stale re-POST of already-folded data drops
    Ingest.remoteWriteBatch(plainBatch(3, 4000L, Seq("m", "n")), 12L,
      sink, s"$dir/reject", cfg, known)
    snapshot(sink) shouldEqual before
    // retention still works at batch granularity on the compacted layout
    Ingest.dropSinkOlderThan(spark, sink, 50000L) should contain ("batch_id=9")
  }

  test("successive folds stay time-contiguous: a prior fold output is " +
       "never re-folded, so each maintenance cycle yields one new " +
       "consolidated dir that retention can age out independently") {
    val dir = tmp("graft-sinkcompact2")
    val (sink, index) = (s"$dir/sink", s"$dir/index")
    val known = new Ingest.KnownSeries(spark, index)
    (0 until 6).foreach(i => Ingest.remoteWriteBatch(
      plainBatch(i, 1000L * (i + 1), Seq("m")), i.toLong,
      sink, s"$dir/reject", cfg, known))
    Ingest.compactSink(spark, sink, keepBatches = 1, minBatches = 4)
      .map(_._1) shouldEqual Some(5)
    batchDirs(sink) shouldEqual Seq("batch_id=4", "batch_id=5")
    (6 until 11).foreach(i => Ingest.remoteWriteBatch(
      plainBatch(i, 1000L * (i + 1), Seq("m")), i.toLong,
      sink, s"$dir/reject", cfg, known))
    val before = snapshot(sink)
    // second cycle folds ONLY the non-compacted dirs (5..9; 10 kept):
    // batch_id=4 keeps its _COMPACTED marker and its bytes
    Ingest.compactSink(spark, sink, keepBatches = 1, minBatches = 4)
      .map(_._1) shouldEqual Some(5)
    batchDirs(sink) shouldEqual Seq("batch_id=4", "batch_id=9", "batch_id=10")
    snapshot(sink) shouldEqual before
    // the FIRST consolidated dir ages out alone (its data is oldest)
    Ingest.dropSinkOlderThan(spark, sink, 5500L) shouldEqual Seq("batch_id=4")
    snapshot(sink).size should be < before.size
  }

  test("crash repair: roll-back (no committed staging), roll-forward " +
       "(committed staging, partial hide), and published-cleanup windows " +
       "all restore a consistent layout with identical rows") {
    import org.apache.hadoop.fs.Path
    val dir = tmp("graft-sinkrepair")
    val (sink, index) = (s"$dir/sink", s"$dir/index")
    val known = new Ingest.KnownSeries(spark, index)
    (0 until 4).foreach(i => Ingest.remoteWriteBatch(
      plainBatch(i, 1000L * (i + 1), Seq("m")), i.toLong,
      sink, s"$dir/reject", cfg, known))
    val fs = fsFor(sink)
    val before = snapshot(sink)
    def writeJournal(staging: String, hi: Long, ids: Seq[Long]): Unit = {
      val out = fs.create(new Path(s"$sink/_compact_journal"), true)
      try out.write(s"$staging\n$hi\n${ids.mkString(",")}\n".getBytes("UTF-8"))
      finally out.close()
    }
    // --- ROLL BACK: journal names a staging that never committed; two
    // inputs already hidden — repair must rename them back
    fs.rename(new Path(s"$sink/batch_id=1"), new Path(s"$sink/_folded-1")) shouldBe true
    fs.rename(new Path(s"$sink/batch_id=3"), new Path(s"$sink/_folded-3")) shouldBe true
    writeJournal("_tmp-compact-3-dead", 3L, Seq(0L, 1L, 2L, 3L))
    Ingest.repairSinkCompaction(spark, sink)
    batchDirs(sink) shouldEqual Seq("batch_id=0", "batch_id=1", "batch_id=2", "batch_id=3")
    snapshot(sink) shouldEqual before
    fs.exists(new Path(s"$sink/_compact_journal")) shouldBe false
    // --- ROLL FORWARD: a committed staging fold of ids 0..2 exists; crash
    // hit after hiding only id 1 — repair must finish hiding, publish the
    // fold as batch_id=2, and clean up
    val staging = s"_tmp-compact-2-test"
    spark.read.option("mergeSchema", "true").option("basePath", sink)
      .parquet(s"$sink/batch_id=0", s"$sink/batch_id=1", s"$sink/batch_id=2")
      .drop("batch_id")
      .write.partitionBy("metric").parquet(s"$sink/$staging")
    fs.create(new Path(s"$sink/$staging/_COMPACTED"), true).close()
    fs.rename(new Path(s"$sink/batch_id=1"), new Path(s"$sink/_folded-1")) shouldBe true
    writeJournal(staging, 2L, Seq(0L, 1L, 2L))
    Ingest.repairSinkCompaction(spark, sink)
    batchDirs(sink) shouldEqual Seq("batch_id=2", "batch_id=3")
    fs.exists(new Path(s"$sink/batch_id=2/_COMPACTED")) shouldBe true
    snapshot(sink) shouldEqual before
    fs.exists(new Path(s"$sink/_compact_journal")) shouldBe false
    // --- PUBLISHED CLEANUP: the fold is live (batch_id=2 committed, no
    // staging) but hidden inputs + the journal were never removed
    fs.mkdirs(new Path(s"$sink/_folded-0"))
    writeJournal(staging, 2L, Seq(0L, 1L, 2L))
    Ingest.repairSinkCompaction(spark, sink)
    batchDirs(sink) shouldEqual Seq("batch_id=2", "batch_id=3")
    snapshot(sink) shouldEqual before
    fs.exists(new Path(s"$sink/_folded-0")) shouldBe false
    fs.exists(new Path(s"$sink/_compact_journal")) shouldBe false
    // idempotent when there is nothing to repair
    Ingest.repairSinkCompaction(spark, sink)
    snapshot(sink) shouldEqual before
  }

  test("tombstone purge then compaction (q186-style): the fold carries the " +
       "post-purge row set exactly, and MaintenanceJob orders purge before " +
       "the sink_batch_compaction step") {
    import spark.implicits._
    val dir = tmp("graft-sinktomb")
    val (sink, index, admin) = (s"$dir/sink", s"$dir/index", s"$dir/admin")
    val known = new Ingest.KnownSeries(spark, index)
    (0 until 6).foreach(i => Ingest.remoteWriteBatch(
      plainBatch(i, 1000L * (i + 1), Seq("m", "n")), i.toLong,
      sink, s"$dir/reject", cfg, known))
    // tombstone metric n over the first half, make it physical
    graft.operators.Tombstones.write(spark, admin, Seq("n"), 0L, 3500L)
    graft.operators.Tombstones.purge(spark, sink, admin) should be > 0
    val afterPurge = snapshot(sink)
    afterPurge.count(_.contains("\"n\"")) shouldEqual 3 // 3 of 6 n-rows left
    val report = graft.tools.MaintenanceJob.run(spark, sink, index,
      sinkCompactMin = 4)
    report.steps.toMap.apply("sink_batch_compaction") shouldEqual "ok"
    report.steps.indexWhere(_._1 == "tombstone_purge") should be <
      report.steps.indexWhere(_._1 == "sink_batch_compaction")
    batchDirs(sink) shouldEqual Seq("batch_id=3", "batch_id=4", "batch_id=5")
    snapshot(sink) shouldEqual afterPurge
  }

  test("PromApi: a crashed swap is repaired at boot, and the opt-in " +
       "sinkCompactEvery cadence folds under commitLock on a live server") {
    import graft.http.{PromApi, ProtoWire, RemoteRead}
    val dir = tmp("graft-sinkboot")
    val ws = graft.http.PromApi.WriteSink(s"$dir/sink", s"$dir/index",
      s"$dir/reject", cfg)
    val known = new Ingest.KnownSeries(spark, ws.indexDir)
    (0 until 5).foreach(i => Ingest.remoteWriteBatch(
      plainBatch(i, 1000L * (i + 1), Seq("m")), i.toLong,
      ws.sinkDir, ws.rejectDir, cfg, known))
    val before = snapshot(ws.sinkDir)
    val fs = fsFor(ws.sinkDir)
    // simulate a crashed pre-publish swap (roll-back shape)
    fs.rename(new org.apache.hadoop.fs.Path(s"${ws.sinkDir}/batch_id=2"),
      new org.apache.hadoop.fs.Path(s"${ws.sinkDir}/_folded-2")) shouldBe true
    val out = fs.create(new org.apache.hadoop.fs.Path(
      s"${ws.sinkDir}/_compact_journal"), true)
    try out.write("_tmp-compact-2-dead\n2\n0,1,2\n".getBytes("UTF-8"))
    finally out.close()
    val api = new PromApi(spark, spark.range(0).toDF(), writeSink = Some(ws),
      sinkCompactEvery = 3, hwmCompactEvery = 0).start()
    try {
      snapshot(ws.sinkDir) shouldEqual before // boot repair rolled back
      // three sync commits: the third triggers the in-server fold
      val url = s"http://localhost:${api.boundPort}"
      (0 until 3).foreach { i =>
        RemoteRead.remoteWriteSeries(Seq(ProtoWire.PSeries(
          Seq("__name__" -> "m", "i" -> "live"),
          Seq(ProtoWire.PSample(i.toDouble, 30000L + i)))), url)
      }
      val dirs = batchDirs(ws.sinkDir)
      dirs.length should be < 8 // 5 seeded + 3 live = 8 without the fold
      dirs.exists(d => fs.exists(new org.apache.hadoop.fs.Path(
        s"${ws.sinkDir}/$d/_COMPACTED"))) shouldBe true
      spark.read.option("mergeSchema", "true").parquet(ws.sinkDir)
        .count() shouldEqual (before.size + 3L)
    } finally api.stop()
  }
}
