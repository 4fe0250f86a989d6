package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.model.{TsLayout, TsTables}

class TsLayoutSpec extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = GraftSession.builder("local[4]", "4").getOrCreate()

  test("partitioned layout round-trips and prunes by metric and date") {
    val tmp = Files.createTempDirectory("graft_layout").toFile.getAbsolutePath
    val samples = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    TsLayout.write(samples, tmp)

    val back = TsLayout.read(spark, tmp)
    back.count() shouldEqual samples.count()

    // metric dirs exist (hive-style partitioning)
    val metricDirs = new java.io.File(tmp).listFiles().map(_.getName).filter(_.startsWith("metric="))
    metricDirs.toSet should contain("metric=purchase")

    // a metric+date filter prunes: scanned partitions mentioned in the plan
    val pruned = back.filter(col("metric") === "purchase" &&
      col("date") === lit("2024-01-05").cast("date"))
    val plan = pruned.queryExecution.executedPlan.toString
    pruned.count() should be > 0L
    // partition filters present in the scan (pruning active)
    plan should include("PartitionFilters")

    // within-file ordering: each input split is sorted by (series_id, ts)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(input_file_name()).orderBy(monotonically_increasing_id())
    TsLayout.read(spark, tmp).count() should be > 0L

    // chunk metadata introspection (reference RawChunkMeta): one row per
    // (metric, file) with sample counts and ts bounds
    val meta = graft.operators.MetadataOps.chunkMeta(back).collect()
    meta.length should be > 0
    meta.foreach { r =>
      r.getAs[Long]("num_rows") should be > 0L
      r.getAs[Long]("end_ts") should be >= r.getAs[Long]("start_ts")
    }

    // ... and reachable from a PromQL string, selector filters applied
    // (reference _filodb_chunkmeta_all -> RawChunkMeta)
    val ctx = graft.promql.PromPlanner.Ctx(spark, back,
      0L, Long.MaxValue / 2, 3600000L)
    val viaQuery = graft.promql.PromPlanner.queryRange(ctx,
      """_filodb_chunkmeta_all(purchase)""").collect()
    viaQuery.length should be > 0
    viaQuery.foreach { r =>
      r.getAs[String]("metric") shouldEqual "purchase"
      r.getAs[Long]("num_rows") should be > 0L
    }
  }

  test("bucketed layout: series_id joins and rollups plan with zero exchange") {
    import org.apache.spark.sql.functions.{avg, col, max => fmax}
    val samples = graft.model.TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
      .select("series_id", "metric", "ts", "value")
    graft.model.TsLayout.writeBucketed(samples, "bucketed_a", nBuckets = 4)
    graft.model.TsLayout.writeBucketed(samples, "bucketed_b", nBuckets = 4)
    try {
      val a = spark.table("bucketed_a")
      val b = spark.table("bucketed_b").groupBy("series_id").agg(fmax("ts").as("last_ts"))
      // join + per-series rollup between same-bucketed tables: the bucket
      // files ARE the shuffle output — no exchange anywhere in the plan
      val joined = a.join(b, "series_id").where(col("ts") === col("last_ts"))
      joined.count() should be > 0L
      val p = joined.queryExecution.executedPlan.toString
      (p should not).include("Exchange hashpartitioning")
      // per-series aggregation alone also rides the bucketing
      val agg = a.groupBy("series_id").agg(avg("value"))
      agg.count() should be > 0L
      (agg.queryExecution.executedPlan.toString should not).include("Exchange hashpartitioning")
    } finally {
      spark.sql("DROP TABLE IF EXISTS bucketed_a")
      spark.sql("DROP TABLE IF EXISTS bucketed_b")
    }
  }

  test("retention: dropOlderThan unlinks old date partitions, newer data survives") {
    val tmp = Files.createTempDirectory("graft_ttl").toFile.getAbsolutePath
    val samples = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    TsLayout.write(samples, tmp)
    val allDates = TsLayout.read(spark, tmp).select("date").distinct()
      .collect().map(_.getDate(0).toLocalDate).sorted(Ordering.fromLessThan[java.time.LocalDate](_ isBefore _))
    allDates.length should be > 2
    val cutoff = allDates(allDates.length / 2)
    val dropped = TsLayout.dropOlderThan(spark, tmp, cutoff)
    dropped should not be empty
    dropped.foreach(_ should include("date="))
    val remaining = TsLayout.read(spark, tmp).select("date").distinct()
      .collect().map(_.getDate(0).toLocalDate)
    remaining.foreach(d => d.isBefore(cutoff) shouldBe false)
    remaining.toSet shouldEqual allDates.filterNot(_.isBefore(cutoff)).toSet
    // idempotent: a second pass drops nothing
    TsLayout.dropOlderThan(spark, tmp, cutoff) shouldBe empty
  }

  test("compaction: one partition's files merge, data and sibling partitions untouched") {
    val tmp = Files.createTempDirectory("graft_compact").toFile.getAbsolutePath
    val samples = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    TsLayout.write(samples, tmp, seriesBuckets = 4) // several files per partition
    val before = TsLayout.read(spark, tmp)
    val beforeTotal = before.count()
    val d = before.filter(col("metric") === "purchase")
      .select(col("date")).distinct().head.getDate(0).toString
    val beforeRows = before.filter(col("metric") === "purchase" && col("date") === lit(d).cast("date"))
      .select("series_id", "ts", "value").collect().toSet
    val (nBefore, nAfter) = TsLayout.compactPartition(spark, tmp, "purchase", d, nFiles = 1)
    nBefore should be > 1
    nAfter shouldEqual 1
    val after = TsLayout.read(spark, tmp)
    after.count() shouldEqual beforeTotal
    after.filter(col("metric") === "purchase" && col("date") === lit(d).cast("date"))
      .select("series_id", "ts", "value").collect().toSet shouldEqual beforeRows
  }

  test("series index: tag maps with the same entries in a different " +
       "insertion order fold into one row with widened bounds") {
    import graft.operators.MetadataOps
    import spark.implicits._
    val samples = Seq(
      (7L, "m", Map("a" -> "1", "b" -> "2", "c" -> "3"), 1000L),
      (7L, "m", Map("c" -> "3", "a" -> "1", "b" -> "2"), 3000L),
      (7L, "m", Map("b" -> "2", "c" -> "3", "a" -> "1"), 2000L))
      .toDF("series_id", "metric", "tags", "ts")
    val idx = MetadataOps.buildSeriesIndex(samples)
      .select(col("start_ts"), col("end_ts"), map_entries(col("tags"))).collect()
    idx should have size 1
    idx.head.getLong(0) shouldEqual 1000L
    idx.head.getLong(1) shouldEqual 3000L
    // the entries, in order, of the sorted-entries JSON round trip the
    // index once grouped on
    val roundTrip = samples.select(map_from_entries(from_json(
        to_json(array_sort(map_entries(col("tags")))),
        org.apache.spark.sql.types.DataType.fromDDL(
          "array<struct<key:string,value:string>>"))).as("tags"))
      .select(map_entries(col("tags"))).head().getSeq[org.apache.spark.sql.Row](0)
    idx.head.getSeq[org.apache.spark.sql.Row](2) shouldEqual roundTrip
  }

  test("series index: one row per series, equals the scan path, prunes by metric") {
    import graft.operators.MetadataOps
    val samples = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    val idx = MetadataOps.buildSeriesIndex(samples)
    idx.count() shouldEqual samples.select("series_id").distinct().count()
    // identical answers to the sample-scan metadata path
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select(col("metric"), col("tags")("user")).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    key(MetadataOps.seriesFromIndex(idx, Long.MinValue / 2, Long.MaxValue / 2)) shouldEqual
      key(MetadataOps.series(samples, Long.MinValue / 2, Long.MaxValue / 2))
    // labelValues/labelNames accept the index frame unchanged
    MetadataOps.labelValues(idx, "user").collect().map(_.getString(0)).toSet shouldEqual
      MetadataOps.labelValues(samples, "user").collect().map(_.getString(0)).toSet
    // interval-overlap range semantics: bounds come from the samples
    val b = idx.orderBy("series_id").select("start_ts", "end_ts").head
    b.getLong(0) should be <= b.getLong(1)
    // persisted layout: metric partition dirs prune match[] probes
    val tmp = Files.createTempDirectory("graft_sidx").toFile.getAbsolutePath
    TsLayout.writeSeriesIndex(samples, tmp)
    val back = spark.read.parquet(tmp)
    back.count() shouldEqual idx.count()
    val probe = MetadataOps.seriesFromIndex(back, Long.MinValue / 2, Long.MaxValue / 2,
      Seq("""purchase{user="1"}"""))
    probe.count() shouldEqual 1L
    val p = probe.queryExecution.executedPlan.toString
    p should include("PartitionFilters")
    p should include("purchase")
  }

  test("corpus fingerprint index: anti-join reads the index pre-shuffled; append closes the loop") {
    import spark.implicits._
    import graft.pipeline.{CorpusLayout, Dedup}
    val corpus = Seq(
      (1L, "alpha beta gamma"), (2L, "delta epsilon zeta"), (3L, "eta theta iota"))
      .toDF("doc_id", "text")
    // batch: one replayed corpus doc (normalized variant), one intra-batch
    // dup pair, one genuinely new doc
    val batch = Seq(
      (10L, "  ALPHA   beta GAMMA "), // fp-dup of corpus doc 1 → dropped
      (11L, "brand new content"), (12L, "brand new content"), // intra-batch dup → 11 kept
      (13L, "another fresh page"))
      .toDF("doc_id", "text")
    CorpusLayout.writeFingerprintIndex(corpus, "fp_index", nBuckets = 4)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the join shape a 100 TB index takes (never broadcastable)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val out = CorpusLayout.dropAgainstIndex(spark, batch, "fp_index")
      out.select("doc_id").as[Long].collect().sorted shouldEqual Array(11L, 13L)
      val p = out.queryExecution.executedPlan.toString
      // the index side is consumed via its bucket files — the scan appears
      // with bucket selection, not behind an exchange
      p should include("SelectedBucketsCount")
      // parity with the scan-everything operator
      Dedup.dropAgainstCorpus(batch, corpus)
        .select("doc_id").as[Long].collect().sorted shouldEqual Array(11L, 13L)
      // fold survivors in; the same batch then dedups to nothing
      CorpusLayout.appendToIndex(out, "fp_index", nBuckets = 4)
      CorpusLayout.dropAgainstIndex(spark, batch, "fp_index").count() shouldEqual 0L
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS fp_index")
    }
  }

  test("near-dup index: banded probe reads buckets pre-shuffled; append closes the loop") {
    import spark.implicits._
    import graft.pipeline.CorpusLayout
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the quiet river bank today"),
      (2L, "completely different content about spark catalyst optimizer rules and physical plans"),
      (3L, "yet another unrelated document describing minhash banding and locality sensitive hashing"))
      .toDF("doc_id", "text")
    val batch = Seq(
      // near-dup of corpus doc 1 (one-word tail change) → flagged + dropped
      (10L, "the quick brown fox jumps over the lazy dog near the quiet river bank tonight"),
      // intra-batch identical pair → 11 kept, 12 dropped
      (11L, "fresh unique material on bucketed managed tables and exchange free probe joins"),
      (12L, "fresh unique material on bucketed managed tables and exchange free probe joins"),
      (13L, "entirely new prose with no resemblance to anything indexed so far whatsoever"))
      .toDF("doc_id", "text")
    CorpusLayout.writeNearDupIndex(corpus, "ndx", nBuckets = 4)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the join shape a 100 TB index takes (never broadcastable)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val dups = CorpusLayout.nearDupsAgainstIndex(spark, batch, "ndx", threshold = 0.5)
      val matches = dups.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      matches shouldEqual Set((10L, 1L))
      dups.filter($"est_jaccard" >= 0.5 && $"est_jaccard" <= 1.0).count() shouldEqual 1L
      // both corpus-side tables are consumed via their bucket files —
      // and the planner must not have fallen back to a shuffled scan
      // (it does exactly that when join keys are a SUPERSET of the
      // bucket spec, which is why the tables bucket by the full key)
      val p = dups.queryExecution.executedPlan.toString
      p should include("SelectedBucketsCount")
      (p should not).include("disabled by query planner")
      val survivors = CorpusLayout.dropNearDupsAgainstIndex(
        spark, batch, "ndx", threshold = 0.5)
      survivors.select("doc_id").as[Long].collect().sorted shouldEqual Array(11L, 13L)
      // fold survivors in. Re-offering the SAME batch recomputes the SAME
      // survivors (self-pairs excluded — the at-least-once replay
      // contract: a doc must not near-match its own indexed copy)...
      CorpusLayout.appendToNearDupIndex(survivors, "ndx", nBuckets = 4)
      CorpusLayout.dropNearDupsAgainstIndex(spark, batch, "ndx", threshold = 0.5)
        .select("doc_id").as[Long].collect().sorted shouldEqual Array(11L, 13L)
      // ...while the same CONTENT under fresh ids near-dedups to nothing
      val reoffer = Seq(
        (21L, "fresh unique material on bucketed managed tables and exchange free probe joins"),
        (23L, "entirely new prose with no resemblance to anything indexed so far whatsoever"))
        .toDF("doc_id", "text")
      CorpusLayout.dropNearDupsAgainstIndex(spark, reoffer, "ndx", threshold = 0.5)
        .count() shouldEqual 0L
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS ndx_bands")
      spark.sql("DROP TABLE IF EXISTS ndx_sigs")
    }
  }

  test("corpus-index compaction: appended batches fold to one segment per " +
       "bucket, probes identical and still exchange-free") {
    import spark.implicits._
    import graft.pipeline.{CorpusLayout, Multimodal}
    def filesOf(t: String): Int = {
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(t)).location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(loc, true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    def doc(i: Long) = (i, s"unique filler document number $i carrying entirely " +
      s"distinct content payload ${i * 37} nothing shared with any sibling $i")
    for (t <- Seq("cmp_bands", "cmp_sigs", "cmp_phash", "cmp"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    val nBatches = 5
    // seed + N appended batches for BOTH index families
    CorpusLayout.writeNearDupIndex(
      (0L until 4L).map(doc).toDF("doc_id", "text"), "cmp", nBuckets = 4)
    CorpusLayout.writePerceptualIndex(
      Multimodal.synthesizeMedia((0L until 4L).map(doc).toDF("doc_id", "text")),
      "cmp", nBuckets = 4, prefixBits = 8)
    for (b <- 1 until nBatches) {
      val docs = (b * 4L until b * 4L + 4L).map(doc).toDF("doc_id", "text")
      CorpusLayout.appendToNearDupIndex(docs, "cmp", nBuckets = 4)
      CorpusLayout.appendToPerceptualIndex(
        Multimodal.synthesizeMedia(docs), "cmp", nBuckets = 4, prefixBits = 8)
    }
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // probe batch: near-dup of an indexed doc + a fresh one; media probe
      // re-offers an indexed payload under a kind-aligned fresh id
      val batch = Seq(
        (100L, doc(6L)._2 + " tail"), (101L, "totally novel probe content")
      ).toDF("doc_id", "text")
      val mediaProbe = Multimodal.synthesizeMedia(
        Seq((100L, doc(7L)._2)).toDF("doc_id", "text")) // 100 ≡ 7 mod 3: same kind
      def probeText() = CorpusLayout.nearDupsAgainstIndex(spark, batch, "cmp",
        threshold = 0.5).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      def probeMedia() = CorpusLayout.perceptualDupsAgainstIndex(spark, mediaProbe,
        "cmp", maxDist = 6, prefixBits = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val beforeText = probeText()
      val beforeMedia = probeMedia()
      beforeText.nonEmpty shouldEqual true  // the planted near-dup IS found
      beforeMedia.nonEmpty shouldEqual true // the re-offered payload IS found
      // every append added a file set: well beyond one file per bucket
      filesOf("cmp_bands") should be >= nBatches * 2
      CorpusLayout.compactIndex(spark, "cmp")
      // ONE segment: at most one file per bucket now
      for (t <- Seq("cmp_bands", "cmp_sigs", "cmp_phash")) {
        withClue(t) { filesOf(t) should be <= 4 }
      }
      // probe results identical, plans still bucket-pruned + exchange-free
      probeText() shouldEqual beforeText
      probeMedia() shouldEqual beforeMedia
      val p = CorpusLayout.nearDupsAgainstIndex(spark, batch, "cmp", threshold = 0.5)
        .queryExecution.executedPlan.toString
      p should include("SelectedBucketsCount")
      (p should not).include("disabled by query planner")
      // compaction is idempotent (and the rerun recovers a half-done swap)
      CorpusLayout.compactIndex(spark, "cmp")
      probeText() shouldEqual beforeText
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      for (t <- Seq("cmp_bands", "cmp_sigs", "cmp_phash"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("perceptual index: map-side dHash probe reads buckets pre-shuffled") {
    import spark.implicits._
    import graft.pipeline.{CorpusLayout, Multimodal}
    // doc_id % 3 fixes the kind, so same-kind pairs need ids 3 apart
    val corpus = Multimodal.synthesizeMedia(Seq(
      (1L, "the quick brown fox jumps over the lazy dog by the river"),
      (2L, "completely different content about catalyst optimizer internals"),
      (3L, "yet another unrelated clip transcript mentioning banded joins"))
      .toDF("doc_id", "text"))
    CorpusLayout.writePerceptualIndex(corpus, "pdx", nBuckets = 4, prefixBits = 8)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val batch = Multimodal.synthesizeMedia(Seq(
        // identical payload to corpus doc 1, same kind (10 % 3 == 1 % 3)
        (10L, "the quick brown fox jumps over the lazy dog by the river"),
        (13L, "fresh footage with no resemblance to anything indexed here"))
        .toDF("doc_id", "text"))
      val dups = CorpusLayout.perceptualDupsAgainstIndex(spark, batch, "pdx",
        maxDist = 6, prefixBits = 8)
      val matches = dups.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      matches shouldEqual Set((10L, 1L, 0))
      val p = dups.queryExecution.executedPlan.toString
      p should include("SelectedBucketsCount")
      // fold the fresh item in; the same PAYLOAD under a new id then
      // matches it (13 ≡ 97 mod 3 keeps the modality aligned), while
      // re-offering the identical row is self-excluded (replay contract)
      CorpusLayout.appendToPerceptualIndex(
        batch.filter($"doc_id" === 13L), "pdx", nBuckets = 4, prefixBits = 8)
      val reoffer = Multimodal.synthesizeMedia(Seq(
        (97L, "fresh footage with no resemblance to anything indexed here"))
        .toDF("doc_id", "text"))
      CorpusLayout.perceptualDupsAgainstIndex(spark, reoffer,
          "pdx", maxDist = 6, prefixBits = 8)
        .collect().map(_.getLong(1)).toSeq shouldEqual Seq(13L)
      CorpusLayout.perceptualDupsAgainstIndex(spark, batch.filter($"doc_id" === 13L),
          "pdx", maxDist = 6, prefixBits = 8).count() shouldEqual 0L
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS pdx_phash")
    }
  }

  test("MaintenanceJob: per-sink lock makes the single-compactor contract " +
       "structural (second instance no-ops loudly, stale lock is broken), " +
       "and one run folds hwm/exp-state/exemplars, GCs metadata versions " +
       "and sweeps aged quarantine files") {
    import graft.streaming.Ingest
    import graft.tools.MaintenanceJob
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_maint").toFile.getAbsolutePath
    val (sink, index, meta, ex) =
      (s"$dir/sink", s"$dir/index", s"$dir/meta", s"$dir/ex")
    val known = new Ingest.KnownSeries(spark, index)
    val cfg = graft.operators.Quota.QuotaConfig(Seq("metric"), Seq(1000000L))
    // two committed batches -> index deltas + an exp-state delta to fold
    def canonical(ts: Long, v: Double, c: Seq[Double]) = Seq(
      ("m", Map.empty[String, String], ts, Some(v), None: Option[Int],
        None: Option[Int], None: Option[Seq[Double]], None: Option[Double],
        None: Option[Double], None: Option[Double], None: Option[Int]),
      ("h", Map.empty[String, String], ts, None: Option[Double], Some(0),
        Some(0), Some(c), Some(0.0), Some(0.0), Some(c.sum), Some(0)))
      .toDF("metric", "tags", "ts", "value", "exp_scale", "exp_offset",
        "exp_counts", "exp_zero_count", "exp_zero_threshold", "exp_sum",
        "__reset_hint")
    Ingest.remoteWriteBatch(canonical(1000L, 1.0, Seq(2.0, 1.0)), 0L,
      sink, s"$dir/reject", cfg, known)
    Ingest.remoteWriteBatch(canonical(2000L, 2.0, Seq(4.0, 2.0)), 1L,
      sink, s"$dir/reject", cfg, known)
    // three metadata versions (the upsert keeps 2; a crashed leftover v=1
    // lingers only if the grace GC never ran — simulate via direct dirs)
    (1 to 3).foreach { v =>
      Ingest.upsertMetricMeta(spark, meta,
        Seq(("m", s"type$v", null, null)).toDF("metric", "type", "help", "unit"))
    }
    // exemplar delta dirs to fold
    Seq(("m", Map.empty[String, String], Map("trace_id" -> "t1"), 1000L, 1.0))
      .toDF("metric", "tags", "exemplar_labels", "ts", "value")
      .write.parquet(s"$ex/batch_id=0")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // quarantine files: one aged (sweep), one fresh (keep)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$sink/_spool"))
    Seq("7.wr.bad", "9.tmp.abandoned").foreach { n =>
      val o = fs.create(new org.apache.hadoop.fs.Path(s"$sink/_spool/$n"), false)
      o.write(1); o.close()
    }
    fs.setTimes(new org.apache.hadoop.fs.Path(s"$sink/_spool/7.wr.bad"),
      System.currentTimeMillis() - 48L * 3600 * 1000, -1)
    // 1) a FRESH foreign lock: the job must refuse to run anything
    fs.createNewFile(new org.apache.hadoop.fs.Path(s"$sink/_maintenance.lock")) shouldBe true
    val blocked = MaintenanceJob.run(spark, sink, index,
      exemplarDir = Some(ex), metadataDir = Some(meta))
    blocked.locked shouldBe false
    blocked.steps shouldBe empty
    // 2) age the lock past lockStaleMs: a crashed predecessor — broken,
    // and the full run proceeds
    fs.setTimes(new org.apache.hadoop.fs.Path(s"$sink/_maintenance.lock"),
      System.currentTimeMillis() - 2L * 3600 * 1000, -1)
    val report = MaintenanceJob.run(spark, sink, index,
      exemplarDir = Some(ex), metadataDir = Some(meta))
    report.locked shouldBe true
    // unconfigured optional steps report skipped, never fail the run
    report.steps.toMap.apply("tombstone_purge") shouldEqual
      "skipped: no dir configured"
    report.steps.toMap.apply("retention_drop") shouldEqual
      "skipped: no retention configured"
    report.steps.toMap.apply("snapshot_retention") shouldEqual
      "skipped: no keep count configured"
    (report.steps.toMap - "tombstone_purge" - "retention_drop" -
        "snapshot_retention")
      .values.toSet shouldEqual Set("ok")
    // the lock released on completion
    fs.exists(new org.apache.hadoop.fs.Path(s"$sink/_maintenance.lock")) shouldBe false
    // folds landed: hwm base exists, exp-state deltas consumed into _base
    fs.exists(new org.apache.hadoop.fs.Path(s"$index/_hwm")) shouldBe true
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$index/_exp_state"))
      .map(_.getPath.getName).count(_.startsWith("batch_id=")) shouldEqual 0
    // metadata: newest 2 committed versions kept
    fs.listStatus(new org.apache.hadoop.fs.Path(meta)).map(_.getPath.getName)
      .filter(_.startsWith("v=")).sorted.toSeq shouldEqual Seq("v=2", "v=3")
    // quarantine: aged file swept, fresh one kept
    fs.exists(new org.apache.hadoop.fs.Path(s"$sink/_spool/7.wr.bad")) shouldBe false
    fs.exists(new org.apache.hadoop.fs.Path(s"$sink/_spool/9.tmp.abandoned")) shouldBe true
    // the exemplar table still reads through the folded base
    Ingest.exemplarTable(spark, ex).get.count() shouldEqual 1L
  }

  test("sink retention drops WHOLE expired batch partitions only: a " +
       "partial overlap stays unrewritten, re-runs no-op, and the " +
       "MaintenanceJob step wires the cutoff") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-retent").toString
    val sink = s"$dir/sink"
    def seed(b: Int, ts: Seq[Long]): Unit =
      ts.map(t => ("m", Map.empty[String, String], t, 1.0))
        .toDF("metric", "tags", "ts", "value")
        .write.parquet(s"$sink/batch_id=$b")
    seed(0, Seq(1000L, 2000L))        // entirely below the cutoff
    seed(1, Seq(1500L, 5000L))        // straddles: must stay WHOLE
    seed(2, Seq(6000L))               // above
    graft.streaming.Ingest.dropSinkOlderThan(spark, sink, 3000L) shouldEqual Seq("batch_id=0")
    val fs = new org.apache.hadoop.fs.Path(sink)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(s"$sink/batch_id=0")) shouldBe false
    // the straddling batch kept ALL its rows (retention never rewrites)
    spark.read.parquet(s"$sink/batch_id=1").count() shouldEqual 2L
    // idempotent
    graft.streaming.Ingest.dropSinkOlderThan(spark, sink, 3000L) shouldBe empty
    // through the orchestrator: retention-ms against a pinned now
    val report = graft.tools.MaintenanceJob.run(spark, sink, s"$dir/index",
      retentionMs = Some(4000L), nowMs = 10000L) // cutoff 6000: batch 1 goes
    report.steps.toMap.apply("retention_drop") shouldEqual "ok"
    fs.exists(new org.apache.hadoop.fs.Path(s"$sink/batch_id=1")) shouldBe false
    fs.exists(new org.apache.hadoop.fs.Path(s"$sink/batch_id=2")) shouldBe true
  }
}
