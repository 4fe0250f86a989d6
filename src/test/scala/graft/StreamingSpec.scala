package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.streaming.{FunnelStream, Ingest}
import StreamingSpec.{Sample, UserSample}

object StreamingSpec {
  /** A canonical sample row, as the Gateway decoders and
    * `Ingest.normalize` emit it. */
  case class Sample(series_id: Long, metric: String,
                    tags: Map[String, String], ts: Long, value: Double)

  /** An events-derived row keyed by one `user` column: the shape the
    * session and downsample operators group on by default. */
  case class UserSample(series_id: Long, metric: String, user: String, ts: Long, value: Double)
}

class StreamingSpec extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = GraftSession.builder("local[4]", "4").getOrCreate()
  import spark.implicits._

  /** The index-only quota: every series fits. */
  private val admitAll = graft.operators.Quota.QuotaConfig(Seq("metric"), Seq(1000000L))

  /** A stream's sink rows as (metric, user tag, ts, value), sorted. */
  private def sunkByUser(sink: String): Seq[(String, String, Long, Double)] =
    spark.read.parquet(sink).select(col("metric"), col("tags")("user"), col("ts"), col("value"))
      .as[(String, String, Long, Double)].collect().sorted.toSeq

  test("streaming ingest drops out-of-order and duplicate samples per series") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (u, v) = (Map("user" -> "u"), Map("user" -> "v"))
    val ms = MemoryStream[Sample]
    val dir = java.nio.file.Files.createTempDirectory("ingest_ooo").toString
    val q = Ingest.startIngestWithQuota(ms.toDF(), s"$dir/sink", s"$dir/index",
      s"$dir/rejects", s"$dir/ckpt", admitAll)
    try {
      ms.addData(Sample(1, "m", u, 100, 1.0), Sample(1, "m", u, 200, 2.0))
      q.processAllAvailable()
      ms.addData(
        Sample(1, "m", u, 150, 9.0),  // late -> dropped
        Sample(1, "m", u, 200, 9.0),  // duplicate ts -> dropped
        Sample(1, "m", u, 300, 3.0),  // ok
        Sample(2, "m", v, 50, 5.0))   // other series unaffected
      q.processAllAvailable()
      // the commit mints the series id from the tags, which ride through
      // the drop untouched
      sunkByUser(s"$dir/sink") shouldEqual Seq(("m", "u", 100L, 1.0),
        ("m", "u", 200L, 2.0), ("m", "u", 300L, 3.0), ("m", "v", 50L, 5.0))
    } finally q.stop()
  }

  test("a stream on a fresh checkpoint over an earlier stream's sink lands " +
       "its samples; a restart on that checkpoint keeps its batch ids") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_fresh_ckpt").toString
    val (sink, index, rejects) = (s"$dir/sink", s"$dir/index", s"$dir/rejects")
    def stream() = {
      val ms = MemoryStream[(Long, Long, Long, String, Double, String)]
      (ms, Ingest.normalize(ms.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")))
    }
    def start(events: org.apache.spark.sql.DataFrame, ckpt: String) =
      Ingest.startIngestWithQuota(events, sink, index, rejects, s"$dir/$ckpt", admitAll)
    val (a, aEvents) = stream()
    val qa = start(aEvents, "ckpt_a")
    try {
      a.addData((1L, 1000000000L, 7L, "view", 1.0, ""), (2L, 2000000000L, 7L, "view", 2.0, ""))
      qa.processAllAvailable()
    } finally qa.stop()
    // stream B: its batch 0 must not resolve to A's committed batch 0
    val (b, bEvents) = stream()
    val qb = start(bEvents, "ckpt_b")
    try {
      b.addData((3L, 3000000000L, 7L, "view", 3.0, ""))
      qb.processAllAvailable()
    } finally qb.stop()
    // B restarts on its checkpoint: its batch 1 commits past its batch 0
    b.addData((4L, 4000000000L, 7L, "view", 4.0, ""))
    val qb2 = start(bEvents, "ckpt_b")
    try qb2.processAllAvailable() finally qb2.stop()
    sunkByUser(sink) shouldEqual Seq(("view", "7", 1000L, 1.0),
      ("view", "7", 2000L, 2.0), ("view", "7", 3000L, 3.0), ("view", "7", 4000L, 4.0))
    spark.read.parquet(sink).select("batch_id").distinct().as[Long].collect()
      .sorted.toSeq shouldEqual Seq(0L, 1L, 2L)
  }

  test("staleness markers survive a stream: the sink keeps __stale and an " +
       "instant query after the marker returns no series") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.promql.PromPlanner
    val dir = java.nio.file.Files.createTempDirectory("ingest_stale").toString
    val target = Map("target" -> "a")
    val id = Seq(("up", target)).toDF("metric", "tags")
      .select(graft.model.SeriesKey.id(col("metric"), col("tags"))).as[Long].head()
    // the scrape stream's canonical marker shape, for the live sample too
    val ms = MemoryStream[graft.streaming.Gateway.StaleMarkerRow]
    def row(ts: Long, value: Double, stale: Boolean) =
      graft.streaming.Gateway.StaleMarkerRow(id, "up", target, ts, value, stale)
    val q = Ingest.startIngestWithQuota(ms.toDF(), s"$dir/sink", s"$dir/index",
      s"$dir/rejects", s"$dir/ckpt", admitAll)
    try {
      ms.addData(row(10000L, 1.0, stale = false))
      q.processAllAvailable()
      ms.addData(row(20000L, Double.NaN, stale = true))
      q.processAllAvailable()
    } finally q.stop()
    val sunk = spark.read.parquet(s"$dir/sink")
    sunk.select("ts", "__stale").as[(Long, Boolean)].collect().sorted.toSeq shouldEqual
      Seq((10000L, false), (20000L, true))
    def at(ms: Long): Seq[Double] =
      PromPlanner.queryRange(PromPlanner.Ctx(spark, sunk, ms, ms, 1000L), """up{target="a"}""")
        .select("value").as[Double].collect().toSeq
    at(15000L) shouldEqual Seq(1.0)
    at(25000L) shouldEqual Seq.empty[Double]
  }

  test("a sample behind the stream's event-time watermark lands when it is " +
       "newer than its series' hwm") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Long, String, Double, String)]
    val events = ms.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("ingest_late").toString
    val q = Ingest.startIngestWithQuota(Ingest.normalize(events), s"$dir/sink",
      s"$dir/index", s"$dir/rejects", s"$dir/ckpt", admitAll)
    try {
      def ns(msec: Long) = msec * 1000000L
      ms.addData((1L, ns(3600000L), 7L, "view", 1.0, "")) // an hour in
      q.processAllAvailable()
      // a new series an hour behind the first: older than any 10-minute
      // watermark, but above its own (absent) hwm
      ms.addData((2L, ns(60000L), 8L, "view", 2.0, ""))
      q.processAllAvailable()
    } finally q.stop()
    sunkByUser(s"$dir/sink") shouldEqual
      Seq(("view", "7", 3600000L, 1.0), ("view", "8", 60000L, 2.0))
  }

  test("ingest maintains an append-only series index; merge-on-read equals batch build") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val ms = MemoryStream[(Long, Long, Long, String, Double, String)]
    val events = ms.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("ingest_idx").toString
    // index-only ingest: the quota entry with a quota every series fits
    val q = Ingest.startIngestWithQuota(Ingest.normalize(events), s"$dir/sink",
      s"$dir/index", s"$dir/rejects", s"$dir/ckpt", admitAll)
    try {
      ms.addData((1L, 1000000000L, 7L, "view", 1.0, ""), (2L, 2000000000L, 7L, "view", 2.0, ""))
      q.processAllAvailable()
      ms.addData((3L, 3000000000L, 7L, "view", 3.0, ""), (4L, 1500000000L, 8L, "click", 4.0, ""))
      q.processAllAvailable()
      // two batches -> the (view, 7) series has TWO delta rows on disk
      val deltas = spark.read.parquet(s"$dir/index")
      deltas.filter(col("metric") === "view").count() shouldEqual 2L
      // merge-on-read folds them to one row per series with widened bounds
      val merged = graft.operators.MetadataOps.mergeSeriesIndex(deltas)
        .collect().map(r => (r.getAs[String]("metric"),
          r.getAs[Map[String, String]]("tags")("user"),
          r.getAs[Long]("start_ts"), r.getAs[Long]("end_ts"))).toSet
      merged shouldEqual Set(("view", "7", 1000L, 3000L), ("click", "8", 1500L, 1500L))
      // and equals the batch index built over everything the sink holds
      val batchBuilt = graft.operators.MetadataOps.buildSeriesIndex(
          spark.read.parquet(s"$dir/sink")
            .select(col("metric"), col("tags"), col("ts"), col("series_id")))
        .collect().map(r => (r.getAs[String]("metric"),
          r.getAs[Map[String, String]]("tags")("user"),
          r.getAs[Long]("start_ts"), r.getAs[Long]("end_ts"))).toSet
      batchBuilt shouldEqual merged
      // nothing was rejected
      spark.read.parquet(s"$dir/rejects").count() shouldEqual 0L
    } finally q.stop()
  }

  test("quota ingest rejects over-quota NEW series, keeps existing, logs the breach") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val ms = MemoryStream[(Long, Long, Long, String, Double, String)]
    val events = ms.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("ingest_quota").toString
    val cfg = graft.operators.Quota.QuotaConfig(Seq("metric", "user"), Seq(10L, 1L))
    val q = Ingest.startIngestWithQuota(Ingest.normalize(events), s"$dir/sink",
      s"$dir/index", s"$dir/rejects", s"$dir/ckpt", cfg)
    try {
      ms.addData((1L, 1000000000L, 7L, "view", 1.0, ""))
      q.processAllAvailable()
      // user 8's view series breaches view's quota of 1 (user 7 holds it);
      // user 7 keeps flowing; click is a NEW metric with headroom
      ms.addData((2L, 2000000000L, 8L, "view", 2.0, ""),
        (3L, 3000000000L, 7L, "view", 3.0, ""),
        (4L, 2500000000L, 8L, "click", 4.0, ""))
      q.processAllAvailable()
      // sink rows carry the tags map
      val sunk = spark.read.parquet(s"$dir/sink")
        .select(col("metric"), col("tags")("user"), col("ts")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      sunk shouldEqual Set(("view", "7", 1000L), ("view", "7", 3000L), ("click", "8", 2500L))
      // the breach is visible: one reject row naming depth + quota
      val rej = spark.read.parquet(s"$dir/rejects").collect()
      rej.length shouldEqual 1
      rej.head.getAs[String]("__k0") shouldEqual "view"
      rej.head.getAs[String]("__k1") shouldEqual "8"
      rej.head.getAs[Int]("reject_depth") shouldEqual 2
      rej.head.getAs[Long]("quota") shouldEqual 1L
      // the index never learns the rejected series
      spark.read.parquet(s"$dir/index")
        .filter(col("tags")("user") === "8" && col("metric") === "view")
        .count() shouldEqual 0L
    } finally q.stop()
  }

  test("a stream's sink hands over to remote write: one series id, and a " +
       "resent sample at or below the streamed hwm drops") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Long, String, Double, String)]
    val events = ms.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("ingest_handoff").toString
    val (sink, index, rejects) = (s"$dir/sink", s"$dir/index", s"$dir/rejects")
    val cfg = graft.operators.Quota.QuotaConfig(Seq("metric"), Seq(1000L))
    val q = Ingest.startIngestWithQuota(Ingest.normalize(events), sink, index,
      rejects, s"$dir/ckpt", cfg)
    try {
      ms.addData((1L, 1000000000L, 7L, "view", 1.0, ""), (2L, 2000000000L, 7L, "view", 2.0, ""))
      q.processAllAvailable()
    } finally q.stop()
    // the write handler takes over the same dirs with a fresh state; its
    // batch id is past the stream's
    val user7 = Map("user" -> "7")
    Ingest.remoteWriteBatch(
      Seq(("view", user7, 2000L, 9.0), // resent at the streamed hwm -> dropped
          ("view", user7, 1500L, 9.0), // below it -> dropped
          ("view", user7, 3000L, 3.0)) // newer -> lands
        .toDF("metric", "tags", "ts", "value"),
      100L, sink, rejects, cfg, new Ingest.KnownSeries(spark, index))
    spark.read.parquet(sink).select("ts", "value").as[(Long, Double)].collect()
      .sorted.toSeq shouldEqual Seq((1000L, 1.0), (2000L, 2.0), (3000L, 3.0))
    val want = Seq(("view", user7)).toDF("metric", "tags")
      .select(graft.model.SeriesKey.id(col("metric"), col("tags"))).as[Long].head()
    spark.read.parquet(index).select("series_id").distinct().as[Long].collect()
      .toSeq shouldEqual Seq(want)
  }

  test("a stream resending over remote write's sink drops samples at or " +
       "below the held hwm: only the newer sample lands") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_resend").toString
    val (sink, index, rejects) = (s"$dir/sink", s"$dir/index", s"$dir/rejects")
    val cfg = graft.operators.Quota.QuotaConfig(Seq("metric"), Seq(1000L))
    val user7 = Map("user" -> "7")
    Ingest.remoteWriteBatch(
      Seq(("view", user7, 1000L, 1.0), ("view", user7, 2000L, 2.0))
        .toDF("metric", "tags", "ts", "value"),
      100L, sink, rejects, cfg, new Ingest.KnownSeries(spark, index))
    // a stream on a fresh checkpoint: its own dedup state starts empty, so
    // only the hwm it loads from the index stands between the resend and
    // the sink
    val ms = MemoryStream[(Long, Long, Long, String, Double, String)]
    val events = ms.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = Ingest.startIngestWithQuota(Ingest.normalize(events), sink, index,
      rejects, s"$dir/ckpt", cfg)
    try {
      ms.addData((1L, 1500000000L, 7L, "view", 9.0, ""), // below the hwm -> dropped
        (2L, 2000000000L, 7L, "view", 9.0, ""),          // at it -> dropped
        (3L, 3000000000L, 7L, "view", 3.0, ""))          // newer -> lands
      q.processAllAvailable()
    } finally q.stop()
    spark.read.parquet(sink).select("ts", "value").as[(Long, Double)].collect()
      .sorted.toSeq shouldEqual Seq((1000L, 1.0), (2000L, 2.0), (3000L, 3.0))
  }

  test("a replayed stream batch keeps its committed rows: the same batch id " +
       "over a reloaded state, with and without its index delta") {
    val dir = java.nio.file.Files.createTempDirectory("ingest_replay").toString
    val (sink, index, rejects) = (s"$dir/sink", s"$dir/index", s"$dir/rejects")
    val cfg = graft.operators.Quota.QuotaConfig(Seq("metric"), Seq(1000L))
    val user7 = Map("user" -> "7")
    val id = Seq(("view", user7)).toDF("metric", "tags")
      .select(graft.model.SeriesKey.id(col("metric"), col("tags"))).as[Long].head()
    val batch = Seq(Sample(id, "view", user7, 1000L, 1.0), Sample(id, "view", user7, 2000L, 2.0)).toDF()
    def commit(): Unit = // a restarted query: its state reloads from the index
      Ingest.processCanonicalBatch(batch, 0L, sink, rejects, cfg, new Ingest.KnownSeries(spark, index))
    def stored = spark.read.parquet(sink).select("ts", "value").as[(Long, Double)].collect().sorted.toSeq
    def hwm = spark.read.parquet(index).agg(max("end_ts")).as[Long].head()
    commit()
    // crash after both writes, before the checkpoint commit: the replay
    // finds its own delta in the state it reloads
    commit()
    stored shouldEqual Seq((1000L, 1.0), (2000L, 2.0))
    hwm shouldEqual 2000L
    // crash between the sink and the index write: the delta is rebuilt
    val idx0 = new org.apache.hadoop.fs.Path(s"$index/batch_id=0")
    idx0.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(idx0, true)
    commit()
    stored shouldEqual Seq((1000L, 1.0), (2000L, 2.0))
    hwm shouldEqual 2000L
  }

  test("doc quality monitor: windowed per-source counts finalize under the watermark") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // 60 words with real English stopwords: passes every row rule, langId=en
    val good = ("the quick brown fox and the lazy dog are in the park with some friends " +
      "because they like to be there when it is warm and the weather stays fine ") * 2
    val bad = "!!! ??? *** " * 20 // symbol soup, fails the row rules
    val ms = MemoryStream[(Long, String, String, Long)]
    val docs = ms.toDF.toDF("doc_id", "source", "text", "ts")
    val q = Ingest.docQualityStats(docs, "1 minute", lateness = Some("1 second"))
      .writeStream.format("memory").queryName("quality_out")
      .outputMode("append").start()
    try {
      ms.addData((1L, "web", good, 1000L), (2L, "web", bad, 2000L),
        (3L, "books", good, 3000L))
      q.processAllAvailable()
      ms.addData((4L, "web", good, 120000L)) // watermark passes window 1
      q.processAllAvailable()
      val rows = spark.table("quality_out").collect()
        .map(r => (r.getString(0), r.getLong(2), r.getLong(4), r.getLong(5))).toSet
      // web: 2 docs, 1 English (the symbol soup is not), 1 row-rule pass
      rows shouldEqual Set(("web", 2L, 1L, 1L), ("books", 1L, 1L, 1L))
      // batch mode over the same rows agrees
      val batch = Ingest.docQualityStats(
        Seq((1L, "web", good, 1000L), (2L, "web", bad, 2000L), (3L, "books", good, 3000L))
          .toDF("doc_id", "source", "text", "ts"), "1 minute")
        .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(4), r.getLong(5))).toSet
      batch shouldEqual rows
    } finally q.stop()
  }

  test("doc ingest near-dedups against the standing index across batches; replays no-op") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val a = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    val b = "completely different content describing catalyst optimizer rules and whole stage codegen output"
    val c = "yet another unrelated document about banded minhash joins and bucketed managed tables"
    val ms = MemoryStream[(Long, String)]
    val dir = java.nio.file.Files.createTempDirectory("doc_ingest").toString
    val q = Ingest.startDocIngestWithNearDedup(
      ms.toDF.toDF("doc_id", "text"), "stream_ndx", s"$dir/sink", s"$dir/ckpt",
      nBuckets = 4, threshold = 0.5)
    try {
      ms.addData((1L, a), (2L, a), (3L, b)) // 2 is an in-batch dup of 1
      q.processAllAvailable()
      spark.read.parquet(s"$dir/sink").select("doc_id")
        .collect().map(_.getLong(0)).sorted shouldEqual Array(1L, 3L)
      // batch 2: near-dup of an INDEXED doc (one-word change) + fresh doc
      ms.addData((10L, a.replace("today", "tonight")), (11L, c))
      q.processAllAvailable()
      spark.read.parquet(s"$dir/sink").select("doc_id")
        .collect().map(_.getLong(0)).sorted shouldEqual Array(1L, 3L, 11L)
      // the index folded the survivors: re-offering doc c matches it
      graft.pipeline.CorpusLayout.nearDupsAgainstIndex(
          spark, Seq((99L, c)).toDF("doc_id", "text"), "stream_ndx", threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))) shouldEqual Array((99L, 11L))
      // processed markers make replays no-ops
      spark.read.parquet(s"$dir/sink").count() shouldEqual 3L
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS stream_ndx_bands")
      spark.sql("DROP TABLE IF EXISTS stream_ndx_sigs")
    }
  }

  test("near-dedup ingest crash windows converge: replay between the two markers " +
       "neither destroys sink output nor duplicates probe matches") {
    import org.apache.spark.sql.functions.col
    import graft.pipeline.CorpusLayout
    val a = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    val c = "yet another unrelated document about banded minhash joins and bucketed managed tables"
    val dir = java.nio.file.Files.createTempDirectory("doc_crash").toString
    val table = "crash_ndx"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    try {
      Ingest.processDocBatch(Seq((1L, a), (3L, c.replace("banded", "salted")))
        .toDF("doc_id", "text"), 0L, table, s"$dir/sink", nBuckets = 4, threshold = 0.5)

      // ---- window A: crash AFTER the sink write + _staged marker, BEFORE
      // the index fold. Stage batch 1 by hand exactly as processDocBatch
      // would, then let the replay finish the fold.
      val batch2 = Seq((10L, a.replace("today", "tonight")), (11L, c)).toDF("doc_id", "text")
      val survivors = CorpusLayout.dropNearDupsAgainstIndex(
        spark, batch2, table, threshold = 0.5)
      survivors.write.mode("overwrite").parquet(s"$dir/sink/batch_id=1")
      fs.mkdirs(path(s"$dir/sink/_staged/batch_id=1"))
      Ingest.processDocBatch(batch2, 1L, table, s"$dir/sink", nBuckets = 4, threshold = 0.5)
      // 10 near-matched indexed doc 1 and was dropped; 11 survived + folded
      spark.read.parquet(s"$dir/sink").select("doc_id")
        .collect().map(_.getLong(0)).sorted shouldEqual Array(1L, 3L, 11L)
      val probe = () => CorpusLayout.nearDupsAgainstIndex(
          spark, Seq((99L, c)).toDF("doc_id", "text"), table, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      probe() shouldEqual Seq((99L, 11L))

      // ---- window B: crash AFTER the index fold, BEFORE _processed.
      // The replay must NOT recompute (the index now holds batch 2's own
      // rows — a recompute would drop every doc as its own near-dup and
      // overwrite the good sink), and the double index append must not
      // duplicate probe matches.
      fs.delete(path(s"$dir/sink/_processed/batch_id=1"), true)
      Ingest.processDocBatch(batch2, 1L, table, s"$dir/sink", nBuckets = 4, threshold = 0.5)
      spark.read.parquet(s"$dir/sink").select("doc_id")
        .collect().map(_.getLong(0)).sorted shouldEqual Array(1L, 3L, 11L)
      probe() shouldEqual Seq((99L, 11L)) // exactly once, despite the double fold
      // a third replay with both markers present is a pure no-op
      Ingest.processDocBatch(batch2, 1L, table, s"$dir/sink", nBuckets = 4, threshold = 0.5)
      probe() shouldEqual Seq((99L, 11L))
    } finally {
      spark.sql("DROP TABLE IF EXISTS crash_ndx_bands")
      spark.sql("DROP TABLE IF EXISTS crash_ndx_sigs")
    }
  }

  test("auto-compaction cadence: a 16-batch standing ingest folds its index " +
       "on schedule, probes stay row-identical to an uncompacted twin, and " +
       "the file count is bounded") {
    import org.apache.spark.sql.functions.col
    import graft.pipeline.CorpusLayout
    val dirA = java.nio.file.Files.createTempDirectory("doc_autoc_a").toString
    val dirB = java.nio.file.Files.createTempDirectory("doc_autoc_b").toString
    val (ta, tb) = ("autoc_a_ndx", "autoc_b_ndx")
    // deterministic distinct docs — no near-dups, so every doc indexes and
    // the index grows one segment per batch on the uncompacted twin
    def batch(i: Int) = Seq(
      (i * 10L, s"document alpha $i discusses windowed aggregation over streaming state stores"),
      (i * 10L + 1, s"unrelated beta $i text covering parquet bucket pruning and broadcast joins"))
      .toDF("doc_id", "text")
    try {
      for (i <- 0 until 16) {
        Ingest.processDocBatch(batch(i), i.toLong, ta, s"$dirA/sink",
          nBuckets = 4, threshold = 0.5, compactEvery = 5)
        Ingest.processDocBatch(batch(i), i.toLong, tb, s"$dirB/sink",
          nBuckets = 4, threshold = 0.5)
      }
      // probes row-identical across the swaps (batch 5/10/15 compacted A)
      val probeDoc = Seq((999L,
        "document alpha 7 discusses windowed aggregation over streaming state stores"))
        .toDF("doc_id", "text")
      val pa = CorpusLayout.nearDupsAgainstIndex(spark, probeDoc, ta, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val pb = CorpusLayout.nearDupsAgainstIndex(spark, probeDoc, tb, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      pa shouldEqual pb
      pa should contain((999L, 70L))
      // sinks identical
      spark.read.parquet(s"$dirA/sink").select("doc_id").collect()
        .map(_.getLong(0)).sorted shouldEqual
        spark.read.parquet(s"$dirB/sink").select("doc_id").collect()
          .map(_.getLong(0)).sorted
      // the compacted side's band index is bounded at one segment per
      // bucket (+ the post-compaction appends); the twin keeps one per batch
      def nFiles(t: String): Int = spark.table(t).inputFiles.length
      nFiles(s"${ta}_bands") should be < nFiles(s"${tb}_bands")
      nFiles(s"${ta}_bands") should be <= (4 + 5 * 4) // last fold at batch 15
    } finally {
      for (t <- Seq(ta, tb); sfx <- Seq("_bands", "_sigs"))
        spark.sql(s"DROP TABLE IF EXISTS $t$sfx")
    }
  }

  test("shared ingest pipeline (file/Kafka seam) dedupes across out-of-order source partitions") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // events-SHAPED input, exactly what both startFileIngest and
    // startKafkaIngest feed into Ingest.normalize → startIngestWithQuota —
    // batches simulate Kafka partitions delivering interleaved,
    // out-of-order records (ts in nanos)
    val ms = MemoryStream[(Long, Long, Long, String, Double, String)]
    val events = ms.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("ingest_seam").toString
    val q = Ingest.startIngestWithQuota(Ingest.normalize(events), s"$dir/sink",
      s"$dir/index", s"$dir/rejects", s"$dir/ckpt", admitAll)
    try {
      def ns(msec: Long) = msec * 1000000L
      // partition A: user 1 purchases, in-batch disorder sorts out
      ms.addData((1L, ns(2000), 1L, "purchase", 10.0, ""),
        (2L, ns(1000), 1L, "purchase", 5.0, ""))
      q.processAllAvailable()
      // partition B arrives later with older + duplicate rows -> dropped;
      // a second series is untouched by series-1 state
      ms.addData((3L, ns(1500), 1L, "purchase", 99.0, ""),
        (4L, ns(2000), 1L, "purchase", 99.0, ""),
        (5L, ns(3000), 1L, "purchase", 20.0, ""),
        (6L, ns(500), 2L, "view", 7.0, ""))
      q.processAllAvailable()
      sunkByUser(s"$dir/sink") shouldEqual Seq(
        ("purchase", "1", 1000L, 5.0), ("purchase", "1", 2000L, 10.0),
        ("purchase", "1", 3000L, 20.0), ("view", "2", 500L, 7.0))
    } finally q.stop()
  }

  test("downsample produces ds-gauge min/max/sum/count/avg per window") {
    val samples = Seq(
      (1L, "m", "u", 0L, 10.0), (1L, "m", "u", 60000L, 20.0),
      (1L, "m", "u", 310000L, 30.0) // second 5m window
    ).toDF("series_id", "metric", "user", "ts", "value")
    val ds = Ingest.downsample(samples, "5 minutes")
      .orderBy("ts").collect()
    ds.length shouldEqual 2
    ds(0).getAs[Double]("min") shouldEqual 10.0
    ds(0).getAs[Double]("max") shouldEqual 20.0
    ds(0).getAs[Double]("sum") shouldEqual 30.0
    ds(0).getAs[Double]("count") shouldEqual 2.0
    ds(0).getAs[Long]("ts") shouldEqual 300000L // window end
    ds(1).getAs[Double]("avg") shouldEqual 30.0
  }

  test("batch downsample job writes planner-ready ds tables per resolution") {
    val tmp = Files.createTempDirectory("graft_dsjob").toFile.getAbsolutePath
    // canonical samples shape incl. a MAP tags column (grouped via sorted
    // entries); buckets are (k*res, (k+1)*res] with bucket-END ts — the
    // convention the cold-tier planner's ts <= boundary filter expects
    Seq(("m", Map("u" -> "1"), 1L, 1.0), ("m", Map("u" -> "1"), 60000L, 3.0),
        ("m", Map("u" -> "1"), 300000L, 5.0), ("m", Map("u" -> "1"), 300001L, 7.0),
        ("m", Map("u" -> "2"), 1L, 9.0))
      .toDF("metric", "tags", "ts", "value")
      .write.parquet(s"$tmp/raw")
    graft.tools.DownsampleJob.run(spark, s"$tmp/raw", s"$tmp/out",
      Seq("5 minutes", "1 hour"))
    val ds5 = spark.read.parquet(s"$tmp/out/ds_5_minutes")
    // (0, 300000]: u=1 gets 1,3,5 (300000 is IN the first bucket); u=2 gets 9
    ds5.select(col("tags")("u"), col("ts"), col("sum"), col("count"))
      .as[(String, Long, Double, Double)].collect().sortBy(r => (r._1, r._2))
      .toSeq shouldEqual Seq(
        ("1", 300000L, 9.0, 3.0), ("1", 600000L, 7.0, 1.0), ("2", 300000L, 9.0, 1.0))
    spark.read.parquet(s"$tmp/out/ds_1_hour").count() shouldEqual 2
    // and the planner's cold tier reads the output directly
    val raw = spark.read.parquet(s"$tmp/raw")
    val c = graft.promql.PromPlanner.Ctx(spark, raw.filter($"ts" > 300000L),
      600000L, 600000L, 1000L,
      cold = Some(graft.promql.PromPlanner.ColdTier(ds5, 300000L)))
    graft.promql.PromPlanner.queryRange(c, """sum_over_time(m{u="1"}[10m])""")
      .select("value").as[Double].head() shouldEqual 16.0 +- 1e-9
  }

  test("streaming funnel: stages emit once as reached; stale stragglers ignored") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, String)]
    val q = FunnelStream.track(
        ms.toDF.toDF("user_id", "ts", "event_type"),
        Seq("view", "click", "purchase"), lateness = "1 second")
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    try {
      ms.addData((1L, 100L, "view"), (1L, 200L, "click"), (1L, 150L, "purchase"))
      q.processAllAvailable()
      // purchase@150 is not strictly after click@200 -> only stages 1,2
      val r1 = spark.table("funnel_out").collect()
        .map(r => (r.getInt(1), r.getLong(3))).sorted
      r1 shouldEqual Seq((1, 100L), (2, 200L))
      // next batch completes the chain; straggler view@50 must not re-emit
      ms.addData((1L, 50L, "view"), (1L, 300L, "purchase"))
      q.processAllAvailable()
      val r2 = spark.table("funnel_out").collect()
        .map(r => (r.getInt(1), r.getLong(3))).sorted
      r2 shouldEqual Seq((1, 100L), (2, 200L), (3, 300L))
      // matches the batch operator over the same accumulated events
      val batch = graft.operators.Sessionize.funnel(
        Seq((1L, 100L, "view"), (1L, 200L, "click"), (1L, 150L, "purchase"),
            (1L, 50L, "view"), (1L, 300L, "purchase"))
          .toDF("user_id", "ts_ms", "event_type"),
        Seq("view", "click", "purchase")).collect()
      batch.length shouldEqual 1
      batch.head.getInt(4) shouldEqual 3
    } finally q.stop()
  }

  test("streaming funnel: straggler batches never move the eviction deadline backwards") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, String)]
    val q = FunnelStream.track(
        ms.toDF.toDF("user_id", "ts", "event_type"),
        Seq("view", "click"), lateness = "1 second", idleTtlMs = 1000L)
      .writeStream.format("memory").queryName("funnel_ttl_out")
      .outputMode("append").start()
    try {
      ms.addData((1L, 100000L, "view")) // stage 1; correct deadline 101000
      q.processAllAvailable()
      // straggler: recomputing the deadline from THIS batch alone would
      // pull it back to 99000+1000=100000
      ms.addData((1L, 99000L, "view"))
      q.processAllAvailable()
      // advance the watermark to 100500: past the WRONG deadline only
      ms.addData((2L, 101500L, "view"))
      q.processAllAvailable()
      q.processAllAvailable() // trailing no-data batch fires any due timeout
      // user 1 must still hold stage-1 state -> click completes the chain
      ms.addData((1L, 100800L, "click"))
      q.processAllAvailable()
      val rows = spark.table("funnel_ttl_out").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
      rows.count(_ == ((1L, 1))) shouldEqual 1
      rows should contain((1L, 2))
    } finally q.stop()
  }

  test("streaming session windows: gap merge, watermark finalize, batch parity") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[UserSample]
    val q = Ingest.sessionStats(ms.toDF(), gap = "1 minute", lateness = Some("1 second"))
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // two events 30 s apart merge into one session; third 5 min later
      ms.addData(UserSample(1, "m", "u", 0L, 1.0), UserSample(1, "m", "u", 30000L, 2.0))
      q.processAllAvailable()
      spark.table("sess_out").count() shouldEqual 0L // session still open
      ms.addData(UserSample(1, "m", "u", 300000L, 4.0))
      q.processAllAvailable()
      val rows = spark.table("sess_out").collect()
      rows.length shouldEqual 1
      rows.head.getAs[Long]("n_events") shouldEqual 2L
      rows.head.getAs[Long]("start_ms") shouldEqual 0L
      rows.head.getAs[Long]("end_ms") shouldEqual 30000L
      rows.head.getAs[Long]("duration_ms") shouldEqual 30000L
      rows.head.getAs[Long]("sum_value_micro") shouldEqual 3000000L
      // batch mode over the same rows agrees with the finalized session
      val batch = Ingest.sessionStats(
        Seq(UserSample(1, "m", "u", 0L, 1.0), UserSample(1, "m", "u", 30000L, 2.0),
            UserSample(1, "m", "u", 300000L, 4.0)).toDF(), gap = "1 minute")
      batch.count() shouldEqual 2L
      batch.orderBy("start_ms").collect().map(_.getAs[Long]("n_events")).toSeq shouldEqual Seq(2L, 1L)
    } finally q.stop()
  }

  test("streaming path grams: closed sessions emit n-grams once, batch parity") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.Ingest.Ev
    val ms = MemoryStream[Ev]
    val q = Ingest.sessionPathGrams(ms.toDF(), gap = "1 minute", n = 3,
      lateness = Some("1 second"))
      .writeStream.format("memory").queryName("grams_out")
      .outputMode("append").start()
    try {
      ms.addData(Ev(1, 1, "view", 0L), Ev(1, 2, "click", 10000L),
        Ev(1, 3, "purchase", 20000L))
      q.processAllAvailable()
      spark.table("grams_out").count() shouldEqual 0L // session still open
      ms.addData(Ev(1, 4, "view", 600000L)) // advances watermark, closes it
      q.processAllAvailable()
      val grams = spark.table("grams_out").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      grams shouldEqual Array((1L, "view>click>purchase"))
      // batch parity: the same rows through the batch operator yield the
      // same single 3-gram
      val batch = graft.operators.Sessionize.topPaths(
        Seq((1L, 1L, 0L, "view", 0.0), (1L, 2L, 10000L, "click", 0.0),
            (1L, 3L, 20000L, "purchase", 0.0), (1L, 4L, 600000L, "view", 0.0))
          .toDF("user_id", "event_id", "ts_ms", "event_type", "value"),
        gapMs = 60000L, n = 3, k = 10).collect()
      batch.map(r => (r.getString(0), r.getLong(1))) shouldEqual
        Array(("view>click>purchase", 1L))
    } finally q.stop()
  }

  test("streaming downsample: watermark finalizes windows in append mode") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[UserSample]
    val q = Ingest.downsample(ms.toDF(), "5 minutes", lateness = Some("1 second"))
      .writeStream.format("memory").queryName("ds_stream_out")
      .outputMode("append").start()
    try {
      ms.addData(UserSample(1, "m", "u", 0L, 10.0), UserSample(1, "m", "u", 60000L, 20.0))
      q.processAllAvailable()
      // watermark has not passed the first window's end yet -> nothing final
      spark.table("ds_stream_out").count() shouldEqual 0L
      // an event far past the window end advances the watermark
      ms.addData(UserSample(1, "m", "u", 400000L, 5.0))
      q.processAllAvailable()
      val rows = spark.table("ds_stream_out").collect()
      rows.length shouldEqual 1
      rows.head.getAs[Long]("ts") shouldEqual 300000L
      rows.head.getAs[Double]("sum") shouldEqual 30.0
      rows.head.getAs[Double]("count") shouldEqual 2.0
    } finally q.stop()
  }

  test("histogram downsample merges buckets per window and keeps min/max") {
    val le = Seq(10.0, 50.0, Double.PositiveInfinity)
    val hist = Seq(
      (1L, 100L, le, Seq(1.0, 2.0, 3.0), 4.0, 120.0),
      (1L, 200L, le, Seq(2.0, 2.0, 4.0), 2.0, 90.0),   // same 5m window
      (1L, 400000L, le, Seq(1.0, 1.0, 1.0), 7.0, 60.0) // next window
    ).toDF("series_id", "ts", "le", "values", "min", "max")
    val ds = Ingest.downsampleHist(hist, "5 minutes").orderBy("ts").collect()
    ds.length shouldEqual 2
    ds(0).getAs[Seq[Double]]("values") shouldEqual Seq(3.0, 4.0, 7.0)
    ds(0).getAs[Double]("min") shouldEqual 2.0
    ds(0).getAs[Double]("max") shouldEqual 120.0
    ds(0).getAs[Long]("ts") shouldEqual 300000L
    // max-min quantile over the downsampled histogram clamps at max
    import graft.functions.Histograms
    val q = Ingest.downsampleHist(hist, "5 minutes").filter(col("ts") === 300000L)
      .select(Histograms.maxMinQuantile(0.99, col("le"), col("values"),
        col("min"), col("max")).as("q"))
      .head().getDouble(0)
    q should be <= 120.0
    q should be > 50.0
  }

  test("end-to-end file ingest: events parquet -> partitioned samples sink") {
    val tmp = Files.createTempDirectory("graft_stream").toFile.getAbsolutePath
    val src = s"$tmp/src"; val sink = s"$tmp/sink"; val chk = s"$tmp/chk"
    Files.createDirectories(java.nio.file.Paths.get(src))
    Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      java.nio.file.Paths.get(s"$src/events.parquet"))
    val q = Ingest.startFileIngest(spark, src, sink, s"$tmp/index", s"$tmp/rejects",
      chk, admitAll)
    try q.processAllAvailable() finally q.stop()
    val out = spark.read.parquet(sink)
    out.count() should be > 0L
    // no out-of-order within any series in the sink
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("series_id").orderBy("ts")
    out.withColumn("prev", lag(col("ts"), 1).over(w))
      .filter(col("prev").isNotNull && col("ts") <= col("prev"))
      .count() shouldEqual 0L
    // the sink is canonical: PromQL serves its (metric, tags, ts, value)
    // as written — one series' count over a window spanning all of it
    val s = out.groupBy(col("metric"), col("tags")("user").as("user"))
      .agg(count(lit(1)).as("n"), min(col("ts")).as("lo"), max(col("ts")).as("hi"))
      .orderBy(col("n").desc, col("metric"), col("user")).head()
    val (metric, user, n, lo, hi) =
      (s.getString(0), s.getString(1), s.getLong(2), s.getLong(3), s.getLong(4))
    val ctx = graft.promql.PromPlanner.Ctx(spark,
      out.select(col("metric"), col("tags"), col("ts"), col("value")), hi, hi, 1000L)
    graft.promql.PromPlanner.queryRange(ctx,
        s"""count_over_time($metric{user="$user"}[${hi - lo + 1}ms])""")
      .select("value").as[Double].collect().toSeq shouldEqual Seq(n.toDouble)
  }

  test("downsample routing rewrites range functions to ds columns and merges across tiers") {
    import graft.streaming.DownsampleRouting
    import graft.operators.{PeriodicSamples, RangeFns}
    // raw: one series, samples at 100..1000 (value = ts/100)
    val raw = (1 to 10).map(i => (1L, i * 100L, i.toDouble))
      .toDF("series_id", "ts", "value")
    // downsample of the cold half (ts <= 500): one 500ms bucket
    val ds = Seq((1L, 500L, 1.0, 5.0, 15.0, 5.0, 3.0))
      .toDF("series_id", "ts", "min", "max", "sum", "count", "avg")
    def runFn(fn: String): Double = {
      val (routedDF, eff) = DownsampleRouting.routed(raw, ds, 500L, fn, Seq("series_id"))
      PeriodicSamples(routedDF, Seq("series_id"), "ts", "value",
        1000L, 1000L, 1000L, 1000L, RangeFns.byName(eff))
        .head().getDouble(2)
    }
    runFn("min_over_time") shouldEqual 1.0   // cold min
    runFn("max_over_time") shouldEqual 10.0  // hot max
    runFn("sum_over_time") shouldEqual (15.0 + 6 + 7 + 8 + 9 + 10)
    runFn("count_over_time") shouldEqual 10.0 // 5 cold (bucket count) + 5 hot
  }

  test("streaming doc ingest: fingerprint dedup within watermark + quality gate") {
    import graft.streaming.DocIngest
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val good = (0 until 30).map(i => s"tok$i").mkString(" ")
    // (doc_id, text, lang, source, ingest_ts)
    val ms = MemoryStream[(Long, String, String, String, Long)]
    val q = DocIngest.docPipeline(ms.toDF()
        .toDF("doc_id", "text", "lang", "source", "ingest_ts"))
      .writeStream.format("memory").queryName("doc_out")
      .outputMode("append").start()
    try {
      ms.addData(
        (1L, good, "en", "a", 1000L),
        (2L, good + " ", "en", "a", 2000L), // same fingerprint (trim) -> dropped
        (3L, "too short", "en", "a", 3000L), // fails minWords gate
        (4L, "spam " * 40 + "spam", "en", "b", 4000L)) // dup-word frac ~1 -> dropped
      q.processAllAvailable()
      ms.addData((5L, good, "en", "b", 60000L)) // dup again, later batch -> dropped
      q.processAllAvailable()
      val kept = spark.table("doc_out").select("doc_id").collect().map(_.getLong(0)).toSet
      kept shouldEqual Set(1L)
    } finally q.stop()
  }

  test("kafka-SHAPED frames run the full ingest chain (the decode seam of " +
       "startKafkaIngest, drivable without a broker): JSON record values " +
       "land as deduped events; malformed and identity-less records drop") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the exact column set Spark's kafka source emits
    val ms = MemoryStream[(Array[Byte], Array[Byte], String, Int, Long, Long)]
    val raw = ms.toDF
      .toDF("key", "value", "topic", "partition", "offset", "timestamp")
    val dir = java.nio.file.Files.createTempDirectory("kafka_shape").toString
    val q = Ingest.startIngestWithQuota(Ingest.normalize(Ingest.decodeKafkaValueFrame(raw)),
      s"$dir/sink", s"$dir/index", s"$dir/rejects", s"$dir/ckpt", admitAll)
    def rec(json: String) =
      (Array.empty[Byte], json.getBytes("UTF-8"), "events", 0, 0L, 0L)
    try {
      ms.addData(
        rec("""{"event_id":1,"ts":"2024-01-01T00:00:00","user_id":7,""" +
          """"event_type":"view","value":1.5,"props":""}"""),
        rec("""{"event_id":2,"ts":"2024-01-01T00:00:10","user_id":7,""" +
          """"event_type":"view","value":2.5,"props":""}"""),
        rec("this is not json"), // malformed -> dropped at decode
        rec("""{"event_id":3}""")) // no ts/type: no series identity -> dropped
      q.processAllAvailable()
      val sunk = spark.read.parquet(s"$dir/sink")
      sunk.count() shouldEqual 2L
      sunk.select("metric", "value").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSet shouldEqual
        Set(("view", 1.5), ("view", 2.5))
    } finally q.stop()
  }
}
