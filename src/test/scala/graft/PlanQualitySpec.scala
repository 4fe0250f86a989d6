package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.model.TsTables
import graft.promql.PromPlanner
import graft.queries._

/** Freezes physical-plan quality so regressions in pushdown/broadcast/
  * shuffle shape fail loudly — the properties that matter at 100 TB, not
  * just at test scale. */
class PlanQualitySpec extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = GraftSession.builder("local[4]", "4").getOrCreate()
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("selective filters reach the parquet scan") {
    val p = plan(RelationalQueries.defs("q02_filter_pushdown_revenue")(spark, dir))
    p should include("PushedFilters: [IsNotNull(l_shipdate)")
    // column pruning: only needed columns in ReadSchema
    p should include("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate")
  }

  test("small dimension tables broadcast") {
    val p = plan(RelationalQueries.defs("q04_multi_join_region")(spark, dir))
    p should include("BroadcastHashJoin")
    (p should not).include("SortMergeJoin")
  }

  test("PromQL kernel plans one exchange into MapPartitions, with time filter pushed") {
    val samples = TsTables.eventsAsTypeSamples(spark, dir)
    val ctx = PromPlanner.Ctx(spark, samples,
      TsTables.EventsStartMs, TsTables.EventsEndMs, 6 * TsTables.Hour)
    val df = PromPlanner.queryRange(ctx, "rate(purchase[6h])")
    df.count() // finalize AQE so the executed plan is the real one
    val p = plan(df)
    // metric filter pushed to scan
    p should include("EqualTo(event_type,purchase)")
    // map-side combine before the shuffle, and exactly one shuffle total
    p should include("partial_collect_list")
    "Exchange hashpartitioning".r.findAllIn(p).length shouldEqual 1
  }

  test("subqueries and histogram bucket rates run the columnar window kernel: " +
       "no MapGroups or AppendColumns node in the executed plan") {
    import spark.implicits._
    import graft.functions.Histograms
    def assertColumnar(df: org.apache.spark.sql.DataFrame): Unit = {
      df.collect() // runs df's own plan, so AQE finalizes the one we read
      val p = plan(df)
      p should include("partial_collect_list")
      (p should not).include("MapGroups")
      (p should not).include("AppendColumns")
    }
    val start = TsTables.EventsStartMs + TsTables.Hour
    val ctx = PromPlanner.Ctx(spark, TsTables.eventsAsTypeSamples(spark, dir),
      start, start + TsTables.Hour, 300000L)
    assertColumnar(PromPlanner.queryRange(ctx, "max_over_time(rate(purchase[5m])[30m:1m])"))
    val hists = Seq(("s1", 10000L, Seq(10.0, 20.0)), ("s1", 20000L, Seq(30.0, 60.0)))
      .toDF("series", "ts", "values")
    assertColumnar(Histograms.periodicBucketRate(hists, Seq("series"), "ts",
      20000L, 20000L, 10000L, 20000L, isRate = true))
  }

  test("staleness-cutoff plan: the last-live-ts pass is bounded by a " +
       "BROADCAST semi-join on the marker series keys (a dead target must " +
       "not cost a second full scan); marker-free frames keep the " +
       "single-pass plan") {
    import spark.implicits._
    val stale = Seq(
      ("m", Map("i" -> "a"), 1000L, 1.0, false),
      ("m", Map("i" -> "a"), 2000L, Double.NaN, true),
      ("m", Map("i" -> "b"), 1000L, 5.0, false))
      .toDF("metric", "tags", "ts", "value", "__stale")
    val ctx = PromPlanner.Ctx(spark, stale, 2000L, 2000L, 1000L)
    val df = PromPlanner.queryRange(ctx, "m")
    df.count()
    val p = plan(df)
    p should include("LeftSemi")
    p should include("BroadcastHashJoin")
    // frames WITHOUT the column: no semi-join machinery at all
    val plain = PromPlanner.queryRange(
      PromPlanner.Ctx(spark, stale.drop("__stale"), 2000L, 2000L, 1000L), "m")
    plain.count()
    (plan(plain) should not).include("LeftSemi")
  }

  test("aggregations are partially aggregated before the shuffle") {
    val p = plan(RelationalQueries.defs("q01_pricing_summary")(spark, dir))
    // partial_ functions upstream of the exchange = map-side combine
    p should include("partial_sum")
  }

  private def promCtx = PromPlanner.Ctx(spark, TsTables.eventsAsSamples(spark, dir),
    TsTables.EventsStartMs, TsTables.EventsEndMs, TsTables.Day)

  test("limit(k) plans a distributed top-k, not a single-task global window") {
    val df = PromPlanner.queryRange(promCtx, "limit(3, sum_over_time(purchase[1d]))")
    df.count() // finalize AQE
    val p = plan(df)
    p should include("TakeOrderedAndProject")
    (p should not).include("Window")
  }

  test("simple regex matchers reach the parquet scan as In / StartsWith") {
    val df = PromPlanner.queryRange(promCtx,
      """sum(sum_over_time({__name__=~"purchase|view"}[1d]))""")
    df.count()
    val p = plan(df)
    // alternation-of-literals compiled to IN and pushed to the scan —
    // a raw RLIKE would not push down at all
    p should include("In(event_type, [purchase,view])")
  }

  test("vector binary join carries no forced broadcast hint (AQE decides)") {
    val df = PromPlanner.queryRange(promCtx,
      "sum_over_time(purchase[1d]) / sum_over_time(view[1d])")
    // the analyzed plan would show ResolvedHint if the planner forced a
    // broadcast of either join side; at scale both sides can be huge
    (df.queryExecution.analyzed.toString should not).include("ResolvedHint")
  }

  test("scalar operand of a binary op joins on step_ts only (tiny broadcast)") {
    val df = PromPlanner.queryRange(promCtx,
      "sum_over_time(purchase[1d]) / scalar(sum(sum_over_time(view[1d])))")
    df.count()
    // the scalar side IS hinted (one row per step), and no label-key join
    df.queryExecution.analyzed.toString should include("ResolvedHint")
  }

  test("MinHash signatures are pure per-row expressions — zero exchanges") {
    val docs = TsTables.documents(spark, dir)
    val p = plan(graft.pipeline.Dedup.minHashSignatures(docs, numHashes = 16))
    (p should not).include("Exchange")
    (p should not).include("Generate") // no explode either
  }

  test("hash split / sample / quality signals stream through the scan — zero exchanges") {
    import org.apache.spark.sql.functions.{col, lit}
    val docs = TsTables.documents(spark, dir)
    val split = docs.select(col("doc_id"),
      graft.pipeline.Sampling.hashSplit(col("doc_id"), Seq("a" -> 0.5, "b" -> 0.5)).as("s"))
    (plan(split) should not).include("Exchange")
    val gate = graft.streaming.DocIngest.docPipeline(docs.withColumn("ingest_ts", lit(0L)))
    // batch path: one exchange allowed for dropDuplicates, nothing else
    "Exchange".r.findAllIn(plan(gate)).length should be <= 2
  }

  test("vector_dot is a native expression: SQL-callable, codegen, no interpreted lambdas") {
    val r = spark.sql("SELECT vector_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head()
    r.getDouble(0) shouldEqual 11.0
    import org.apache.spark.sql.functions.{array, col, lit}
    val df = spark.range(4).select(
      graft.pipeline.Similarity.cosine(
        array(col("id").cast("double"), lit(1.0)),
        array(lit(2.0), lit(3.0))).as("c"))
    val p = plan(df)
    p should include("vector_dot")
    (p should not).include("lambdafunction")
    // codegen stage marker: executedPlan renders whole-stage spans as *(n)
    p should include("*(1)")
    // The plan string shows codegen even when the generated Java fails to
    // COMPILE (runtime falls back to interpreted silently). With
    // non-nullable children nullSafeCodeGen emits the kernel snippet
    // without a scoping block, so the three DotProducts cosine builds
    // must not redeclare locals — execute with fallback disabled so a
    // compile failure surfaces as a test failure, not a silent slowdown.
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback")
    try {
      spark.conf.set("spark.sql.codegen.fallback", "false")
      val got = df.collect().map(_.getDouble(0))
      got should have length 4
      got.foreach(c => assert(!c.isNaN))
    } finally spark.conf.set("spark.sql.codegen.fallback", prevFallback)
  }

  test("vector_agree is native: SQL-callable, codegen-compiled, and the standing " +
       "near-dup probe plans no interpreted lambda in its estimator stage") {
    import org.apache.spark.sql.functions.{array, col, lit}
    val r = spark.sql(
      "SELECT vector_agree(array(1L, 2L, 3L), array(1L, 9L, 3L)) AS c").head()
    r.getInt(0) shouldEqual 2
    // codegen compiles (fallback disabled surfaces a generated-Java error)
    val df = spark.range(4).select(graft.functions.VectorExprs.agreeCount(
      array(col("id"), lit(7L)), array(lit(0L), lit(7L))).as("c"))
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback")
    try {
      spark.conf.set("spark.sql.codegen.fallback", "false")
      df.collect().map(_.getInt(0)).toSeq shouldEqual Seq(2, 1, 1, 1)
    } finally spark.conf.set("spark.sql.codegen.fallback", prevFallback)
    // the per-batch hot path of the standing service: estimator stage is
    // the native expression, not aggregate(zip_with(...))
    import spark.implicits._
    import graft.pipeline.CorpusLayout
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    // a previous session's orphaned table dirs survive the in-memory
    // catalog — clear both (the q160 locationAlreadyExists trap)
    for (t <- Seq("pq_ndx_bands", "pq_ndx_sigs")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val wh = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      wh.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wh, true)
    }
    CorpusLayout.writeNearDupIndex(corpus, "pq_ndx", nBuckets = 2)
    try {
      val probe = CorpusLayout.nearDupsAgainstIndex(spark,
        Seq((10L, "alpha beta gamma delta epsilon zeta eta iota")).toDF("doc_id", "text"),
        "pq_ndx", threshold = 0.1)
      probe.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq shouldEqual Seq((10L, 1L))
      val p = plan(probe)
      // the per-PAIR estimator is the native expression; the per-doc
      // signature derivation may keep its map-side transform() lambdas
      p should include("vector_agree")
      (p should not).include("zip_with")
    } finally {
      spark.sql("DROP TABLE IF EXISTS pq_ndx_bands")
      spark.sql("DROP TABLE IF EXISTS pq_ndx_sigs")
    }
  }

  test("exp-hist bridge: the plain branch's scan pushes the selector predicate AND prunes series_type") {
    import org.apache.spark.sql.functions._
    // parquet-backed samples WITH exp columns: the bridge splits every
    // selector into plain + converted branches; both predicates must reach
    // the parquet scan (a coalesce()-based split, as pre-r5, pushes
    // nothing and every exp-capable table pays two FULL scans per selector)
    val tmp = java.nio.file.Files.createTempDirectory("graft_exphist").toString
    TsTables.eventsAsSamples(spark, dir)
      .withColumn("series_type", lit("gauge"))
      .withColumn("exp_scale", lit(0)).withColumn("exp_offset", lit(0))
      .withColumn("exp_counts", lit(null).cast("array<double>"))
      .write.mode("overwrite").parquet(s"$tmp/samples")
    val parq = spark.read.parquet(s"$tmp/samples")
    val ctx = PromPlanner.Ctx(spark, parq,
      TsTables.EventsStartMs, TsTables.EventsEndMs, TsTables.Day)
    // default 100-char metadata rendering truncates the PushedFilters list
    // mid-entry — widen so the assertions see the full pushed set
    val prevLen = spark.conf.get("spark.sql.maxMetadataStringLength")
    val p = try {
      spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
      val df = PromPlanner.queryRange(ctx, "sum(sum_over_time(purchase[1d]))")
      df.count()
      plan(df)
    } finally spark.conf.set("spark.sql.maxMetadataStringLength", prevLen)
    // metric predicate pushed on both branches
    "EqualTo\\(metric,purchase\\)".r.findAllIn(p).length should be >= 2
    // plain branch prunes series_type at the scan...
    p should include("Not(EqualTo(series_type,otel_exp_histogram))")
    // ...and the converted branch scans only exp rows
    p should include("EqualTo(series_type,otel_exp_histogram)")
  }

  test("pair pipelines never plan a cartesian or nested-loop join") {
    val docs = TsTables.documents(spark, dir)
    import org.apache.spark.sql.functions.{array_distinct, col, lower}
    val toks = docs.select(col("doc_id"), col("lang"),
      (col("n_chars") / 50).cast("long").as("len_bucket"),
      array_distinct(graft.pipeline.TextAnalysis.tokens(lower(col("text")))).as("toks"))
    Seq(
      plan(graft.pipeline.Dedup.jaccardPairs(toks, 0.8, blockCols = Seq("lang", "len_bucket"))),
      plan(graft.pipeline.Dedup.minHashDuplicates(docs, numHashes = 16, threshold = 0.5)),
      plan(graft.pipeline.Dedup.simHashDuplicates(docs))
    ).foreach { p =>
      (p should not).include("CartesianProduct")
      (p should not).include("BroadcastNestedLoopJoin")
    }
  }

  test("decontamination probes the corpus against a BROADCAST benchmark gram set") {
    import org.apache.spark.sql.functions.col
    val docs = TsTables.documents(spark, dir)
    val df = graft.pipeline.Decontam.flagContaminated(
      docs.where(col("doc_id") % 10 =!= 0),
      docs.where(col("doc_id") % 10 === 0).withColumnRenamed("doc_id", "bench_id"),
      n = 8)
    val p = plan(df)
    // the 100 TB corpus side must never shuffle its grams for the probe
    p should include("BroadcastHashJoin")
    (p should not).include("SortMergeJoin")
    (p should not).include("CartesianProduct")
  }

  test("duplicate-span removal shuffles window hashes, not gram strings") {
    val df = graft.pipeline.Dedup.removeDuplicateSpans(TsTables.documents(spark, dir), w = 8)
    df.count() // finalize AQE
    val p = plan(df)
    (p should not).include("CartesianProduct")
    (p should not).include("BroadcastNestedLoopJoin")
    // the xxhash64 window-hash stream is checkpointed (its two consumers
    // would otherwise each re-derive the corpus scan); the final plan
    // reads it as an existing RDD plus the one text-rebuild scan
    p should include("ExistingRDD")
    "FileScan parquet".r.findAllIn(p).size should be <= 1
  }

  test("temperature sampling broadcasts domain rates; the corpus never shuffles") {
    val df = graft.pipeline.Sampling.temperatureSample(
      TsTables.documents(spark, dir), alpha = 0.5, targetRows = 50)
    df.count()
    val p = plan(df)
    p should include("BroadcastHashJoin")
    (p should not).include("SortMergeJoin")
  }

  test("chunking and unigram scoring keep their promised shuffle shapes") {
    // chunking: pure map-side projection, zero exchanges
    val chunks = graft.pipeline.TextAnalysis.chunkDocuments(
      TsTables.documents(spark, dir), chunkTokens = 32, overlapTokens = 8)
    (plan(chunks) should not).include("Exchange")
    // unigram TF: the token shuffle carries xxhash64 longs
    val nll = graft.pipeline.Quality.unigramLogLoss(TsTables.documents(spark, dir))
    nll.count()
    plan(nll) should include("xxhash64")
  }

  test("bigram LM shuffles hashed longs only; bigrams build map-side") {
    val nll = graft.pipeline.Quality.bigramLogLoss(TsTables.documents(spark, dir))
    nll.count()
    val p = plan(nll)
    p should include("xxhash64")
    // the transition stream must never carry token/bigram STRINGS through
    // an exchange: every post-zip_with projection is (__ha, __hb) longs
    (p should not).include("CartesianProduct")
    // prefix counts AND vocab derive from the localCheckpointed bigram
    // count table (their subtrees read the checkpointed RDD, no corpus
    // scan); the final plan's only parquet scan is the scoring pass over
    // the transition stream — the count-table build pass is the second,
    // inside the checkpoint job
    "FileScan parquet".r.findAllIn(p).size should be <= 2
  }

  test("mix assembly broadcasts the per-source rates; the corpus side never shuffles") {
    val df = graft.pipeline.Sampling.mixSources(
      TsTables.documents(spark, dir), Map("src0" -> 2.0, "src1" -> 1.0), 1000L)
    df.count()
    val p = plan(df)
    p should include("BroadcastHashJoin")
    (p should not).include("SortMergeJoin")
  }

  test("cohort retention: user-keyed joins only, never a cartesian") {
    val df = graft.operators.Sessionize.cohortRetention(
      TsTables.events(spark, dir).select(
        org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.col("ts_ms")),
      periodMs = 7 * TsTables.Day, originMs = TsTables.EventsStartMs)
    df.count()
    val p = plan(df)
    (p should not).include("CartesianProduct")
    (p should not).include("BroadcastNestedLoopJoin")
  }

  test("sessionization reuses one user_id exchange for window and rollup") {
    val ev = TsTables.events(spark, dir)
      .select(org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.col("ts_ms"),
        org.apache.spark.sql.functions.col("value"))
    val df = graft.operators.Sessionize.sessionStats(ev, gapMs = 3600000L)
    df.count()
    val p = plan(df)
    // one shuffle on user_id feeds the lag/sum window; the session rollup
    // groups by (user_id, session_idx) — a superset key Catalyst serves
    // from the same partitioning, so no second full exchange of the rows
    "Exchange hashpartitioning".r.findAllIn(p).size shouldEqual 1
  }

  test("line dedup: hash occurrences checkpoint once, text scans once for the rebuild") {
    val df = graft.pipeline.Dedup.removeDuplicateLines(TsTables.documents(spark, dir))
    df.count()
    val p = plan(df)
    (p should not).include("CartesianProduct")
    (p should not).include("BroadcastNestedLoopJoin")
    // the xxhash64 occurrence stream lives in the checkpoint job; the
    // final plan reads it as an existing RDD plus ONE text-rebuild scan
    p should include("ExistingRDD")
    "FileScan parquet".r.findAllIn(p).size should be <= 1
  }

  test("bm25: stats ride back as a broadcast; the ranked result is a distributed top-k") {
    val df = graft.pipeline.Search.bm25TopK(
      TsTables.documents(spark, dir), Seq("spark", "vector"), k = 10)
    df.count()
    val p = plan(df)
    p should include("TakeOrderedAndProject")
    // the 1-row stats frame joins back broadcast-nested-loop (no key);
    // the corpus itself never hash-shuffles
    p should include("BroadcastNestedLoopJoin")
    (p should not).include("Exchange hashpartitioning")
    (p should not).include("SortMergeJoin")
  }

  test("tokenize-and-pack: ONE bucket exchange; reassembly rides the window partitioning") {
    val df = graft.pipeline.Bpe.packSequences(TsTables.documents(spark, dir),
      graft.pipeline.Bpe.DemoMerges, seqLen = 32, nBuckets = 4)
    df.count()
    val p = plan(df)
    "Exchange hashpartitioning".r.findAllIn(p).size shouldEqual 1
    (p should not).include("Exchange rangepartitioning")
  }

  test("dsir: scoring is map-side (broadcast threshold, no corpus hash shuffle)") {
    val docs = TsTables.documents(spark, dir)
    val df = graft.pipeline.Sampling.dsirSelect(
      docs, docs.filter(org.apache.spark.sql.functions.col("source") === "src0"),
      keep = 20, nBuckets = 64)
    df.count()
    val p = plan(df)
    // the log-ratio table is an array literal and the k-th key broadcasts:
    // the corpus is never hash-shuffled for scoring, and the threshold
    // pass is a distributed TakeOrdered, not a global sort
    p should include("TakeOrderedAndProject")
    p should include("BroadcastNestedLoopJoin")
    (p should not).include("Exchange hashpartitioning")
    (p should not).include("Exchange rangepartitioning")
  }

  test("sq8 knn: partial per-partition top-k precedes the query_id exchange") {
    val e = TsTables.embeddings(spark, dir)
    val df = graft.pipeline.Similarity.sq8Knn(
      e.filter(org.apache.spark.sql.functions.col("vec_id") < 3), e, k = 4)
    df.count()
    val p = plan(df)
    // queries broadcast against the encoded corpus; WindowGroupLimit
    // trims candidates per partition BEFORE the per-query exchange, so
    // the shuffle carries at most (partitions x queries x k x overfetch)
    // rows, not the full scored corpus
    p should include("WindowGroupLimit")
    (p should not).include("CartesianProduct")
    (p should not).include("SortMergeJoin")
  }

  test("quota admission: keyed joins on index-scale frames, never a cartesian") {
    val samples = TsTables.eventsAsSamples(spark, dir)
    val cfg = graft.operators.Quota.QuotaConfig(Seq("metric", "user"), Seq(10L, 100L))
    val df = graft.operators.Quota.admit(samples.limit(0), samples, cfg)
    df.count()
    val p = plan(df)
    (p should not).include("CartesianProduct")
    // BNLJs here are all the SAME depth-1 root-count riding as a 1-ROW
    // broadcast (the bm25-stats pattern), duplicated across the
    // decided/reject/surviving branches that each re-derive it from the
    // CACHED distinct-key frame — never a row-by-row nested loop over
    // index-scale data. Depth-2 contributes none (keyed joins only).
    "BroadcastNestedLoopJoin".r.findAllIn(p).length should be <= 3
  }

  test("gateway decode: pure map-side, zero exchanges") {
    val spark2 = spark
    import spark2.implicits._
    val lines = Seq("m,user=1 v=1 1000000000", "m,user=2 v=2 2000000000")
      .toDF("line")
    val df = graft.streaming.Gateway.influxSamples(lines, defaultTsMs = 0L)
    df.count()
    val p = plan(df)
    (p should not).include("Exchange")
  }

  test("hybrid RRF: window-limited dense candidates, no cartesian, fusion joins stay tiny") {
    val spark2 = spark
    import spark2.implicits._
    val docs = TsTables.documents(spark, dir)
      .join(TsTables.embeddings(spark, dir).withColumnRenamed("vec_id", "doc_id"), "doc_id")
    val qs = Seq((0L, Seq("spark", "vector"))).toDF("query_id", "terms")
      .join(TsTables.embeddings(spark, dir)
        .filter(org.apache.spark.sql.functions.col("vec_id") === 0)
        .select(org.apache.spark.sql.functions.col("vec_id").as("query_id"),
          org.apache.spark.sql.functions.col("embedding").as("qvec")), "query_id")
    val df = graft.pipeline.Search.hybridTopK(docs, qs, k = 5, depth = 10)
    df.count()
    val p = plan(df)
    (p should not).include("CartesianProduct")
    // dense side trims per-partition candidates BEFORE its per-query exchange
    p should include("WindowGroupLimit")
  }

  test("ANN-backed hybrid (rrfFuse): no corpus-wide cosine scan, no cartesian — " +
       "the dense leg rides the compressed index, fusion is rank-only") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.functions.col
    val qs = Seq((0L, Seq("spark", "vector"))).toDF("query_id", "terms")
    val sparse = graft.pipeline.Search.bm25TopKBatch(
        TsTables.documents(spark, dir), qs, k = 10)
      .select(col("query_id"), col("doc_id"), col("rk"))
    val e = TsTables.embeddings(spark, dir)
    val dense = graft.pipeline.Similarity.ivfPqKnn(
        e.filter(col("vec_id") === 0), e, k = 10, nCentroids = 4, nprobe = 2,
        m = 4, ksub = 4)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rk"))
    val df = graft.pipeline.Search.rrfFuse(sparse, dense, k = 5)
    df.count()
    val p = plan(df)
    // brute-force hybridTopK's marker: full-precision cosine (vector_dot)
    // over every corpus row — absent when the ANN leg serves dense
    (p should not).include("vector_dot")
    (p should not).include("CartesianProduct")
  }

  test("ivf-pq knn: probe table broadcasts, no cartesian against the encoded corpus") {
    val e = TsTables.embeddings(spark, dir)
    val df = graft.pipeline.Similarity.ivfPqKnn(
      e.filter(org.apache.spark.sql.functions.col("vec_id") < 3), e, k = 4,
      nCentroids = 4, nprobe = 2, m = 4, ksub = 4)
    df.count()
    val p = plan(df)
    // queries x centroids is an explicit broadcast (tiny side), and the
    // probe/distance-table frame broadcasts against the encoded corpus —
    // ADC scoring is map-side, nothing corpus-scale shuffles for it
    p should include("BroadcastExchange")
    (p should not).include("CartesianProduct")
    (p should not).include("SortMergeJoin")
  }

  test("perceptual dedup: banded hash join, no cartesian, payload bytes stay out of shuffles") {
    val media = graft.pipeline.Multimodal.synthesizeMedia(TsTables.documents(spark, dir))
    val df = graft.pipeline.Multimodal.perceptualDuplicates(media, maxDist = 16, prefixBits = 8)
    df.count()
    val p = plan(df)
    (p should not).include("CartesianProduct")
    (p should not).include("BroadcastNestedLoopJoin")
    // every exchange input is the projected (doc_id, kind, ph/bucket) shape
    (p.linesIterator.filter(_.contains("Exchange hashpartitioning")).mkString should not)
      .include("bytes")
  }

  test("batch bm25: postings joins stay hashed, no cartesian, df side broadcast") {
    val spark2 = spark
    import spark2.implicits._
    val qs = Seq((0L, Seq("spark", "vector")), (1L, Seq("customer", "window")))
      .toDF("query_id", "terms")
    val df = graft.pipeline.Search.bm25TopKBatch(TsTables.documents(spark, dir), qs, k = 10)
    df.count()
    val p = plan(df)
    (p should not).include("CartesianProduct")
    p should include("xxhash64")
    p should include("BroadcastHashJoin")
    // all three postings consumers read the checkpointed index — the
    // corpus scan happens once, inside the checkpoint job (3 re-derived
    // scans measured before the checkpoint)
    "FileScan parquet".r.findAllIn(p).size should be <= 1
  }

  test("source divergence: count table checkpoints once; consumers never rescan the corpus") {
    val df = graft.pipeline.Quality.sourceDivergence(TsTables.documents(spark, dir))
    df.count()
    val p = plan(df)
    (p should not).include("SortMergeJoin")
    (p should not).include("CartesianProduct")
    // every consumer reads the checkpointed (source, hash) count table —
    // zero parquet scans remain in the final plan (was 4 re-derivations)
    p should include("ExistingRDD")
    "FileScan parquet".r.findAllIn(p).size shouldEqual 0
  }

  test("incremental components fold: the standing assignment joins the tiny " +
       "relabel map by BROADCAST — members never shuffle") {
    import org.apache.spark.sql.functions.{col, lit}
    val tmp = java.nio.file.Files.createTempDirectory("graft-ccplan").toString
    // parquet-backed standing assignment, the production shape
    spark.range(10000)
      .select(col("id"), (col("id") / lit(100L)).cast("long").multiply(100).as("component"))
      .write.mode("overwrite").parquet(tmp)
    val assign = spark.read.parquet(tmp)
    import spark.implicits._
    val batch = Seq((0L, 100L), (200L, 300L)).toDF("id1", "id2")
    val folded = graft.pipeline.Components.incrementalComponents(assign, batch)
    // the relabel side is a checkpointed RDD with no planner stats, so the
    // STATIC plan sort-merges; AQE's runtime stats convert it — execute
    // THIS frame (count() would plan a separate query) and pin the final
    // adaptive plan
    folded.collect()
    // AdaptiveSparkPlan's render appends the pre-AQE "Initial Plan"
    // section — pin only the FINAL plan above it
    val p = plan(folded).split("== Initial Plan ==").head
    p should include("isFinalPlan=true")
    // the corpus-side joins (endpoint lookups resolved pre-plan via
    // checkpoints; relabel + new-node joins in this plan) must broadcast
    // the batch-proportional side, never sort-merge the assignment
    p should include("BroadcastHashJoin")
    (p should not).include("SortMergeJoin")
    (p should not).include("CartesianProduct")
  }
}
