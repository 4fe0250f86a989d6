package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Physical layout of the corpus-side incremental state at scale — the
  * pipeline analogue of [[graft.model.TsLayout.writeBucketed]].
  *
  * [[Dedup.dropAgainstCorpus]] reduces the historical corpus to a DISTINCT
  * fingerprint set per ingest batch; at 100 TB that reduction re-reads and
  * re-shuffles corpus-scale data on EVERY batch. This layout persists the
  * fingerprint set once, as a managed table bucketed by `fp`: the
  * per-batch anti-join then reads the bucket files as pre-shuffled input —
  * only the (batch-sized) probe side moves, the index side plans with zero
  * exchange no matter how large it grows. The shuffle over corpus-scale
  * data is paid exactly once, at index build; each ingest batch appends its
  * own (already co-bucketed) survivors.
  */
object CorpusLayout {

  /** Build (or append to) the fingerprint index: one row per distinct
    * normalized-text fingerprint in `docs`, keeping the lowest id as the
    * canonical document. Bucketed + sorted by `fp`; `repartition` on the
    * same key first so each task writes exactly one bucket file (the
    * P×nBuckets small-files trap — see TsLayout.writeBucketed). */
  def writeFingerprintIndex(docs: DataFrame, table: String, nBuckets: Int = 32,
                            textCol: String = "text", idCol: String = "doc_id",
                            mode: SaveMode = SaveMode.Overwrite): Unit =
    docs
      .select(TextAnalysis.fingerprint(col(textCol)).as("fp"), col(idCol).as("doc_id"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .repartition(nBuckets, col("fp"))
      .write
      .bucketBy(nBuckets, "fp")
      .sortBy("fp")
      .mode(mode)
      .format("parquet")
      .saveAsTable(table)

  /** Incremental-ingest dedup against the persisted index: semantics of
    * [[Dedup.dropAgainstCorpus]] (drop batch rows whose fingerprint is
    * already indexed, dedupe within the batch, lowest id wins) but the
    * corpus side is the bucketed index — its scan plans no exchange. */
  def dropAgainstIndex(spark: SparkSession, newDocs: DataFrame, table: String,
                       textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val seen = spark.table(table).select(col("fp").as("__fp"))
    Dedup.dropExactDuplicates(newDocs, textCol, idCol)
      .withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .join(seen, Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** Fold a deduplicated batch into the index (call with the OUTPUT of
    * [[dropAgainstIndex]] so appended fingerprints are genuinely new).
    * Spark verifies the bucket spec matches the existing table. */
  def appendToIndex(survivors: DataFrame, table: String, nBuckets: Int = 32,
                    textCol: String = "text", idCol: String = "doc_id"): Unit =
    writeFingerprintIndex(survivors, table, nBuckets, textCol, idCol, SaveMode.Append)

  // ===== Incremental NEAR-dup (MinHash/LSH) index ======================
  //
  // The standing-service version of Dedup.minHashDuplicates: the corpus's
  // LSH band buckets persist as TWO co-bucketed managed tables so a
  // per-batch near-dup probe plans with ZERO corpus-side exchange —
  //   <table>_bands (band, bh, doc_id)  bucketed by bh:  the probe's
  //     (band, bh) join reads bucket files pre-shuffled (HashPartitioning
  //     on bh satisfies the join's clustering — bh is a subset of the
  //     join keys);
  //   <table>_sigs  (doc_id, sig)       bucketed by doc_id: candidate
  //     verification re-reads only matched corpus signatures, again
  //     without moving the corpus side.
  // Verification is the MinHash ESTIMATOR (fraction of agreeing signature
  // positions >= threshold): unlike the batch operator, the index keeps
  // signatures, not shingle sets, so the standing service trades q66's
  // exact-Jaccard confirm for O(numHashes) per candidate — the standard
  // accuracy/state tradeoff for an online near-dup service (estimator
  // stderr ~= 1/sqrt(numHashes) ~ 0.18 at 32 hashes; raise numHashes to
  // tighten). The shuffle over corpus-scale data is paid exactly once per
  // document, at its own batch's append.

  private def bandTable(table: String) = s"${table}_bands"
  private def sigTable(table: String) = s"${table}_sigs"

  private def sigsOf(docs: DataFrame, textCol: String, idCol: String,
                     numHashes: Int, shingleK: Int): DataFrame =
    Dedup.minHashSignatures(docs, textCol, idCol, numHashes, shingleK)

  private def bandsOf(sigs: DataFrame, idCol: String, rowsPerBand: Int): DataFrame =
    sigs.select(col(idCol).as("doc_id"),
        posexplode(Dedup.bandHashes(col("sig"), rowsPerBand)))
      .select(col("pos").as("band"), col("col").as("bh"), col("doc_id"))

  /** Build (or append to) the near-dup index from a batch of documents.
    * Degenerate band buckets (> maxBucketSize members WITHIN this write)
    * are capped at write time — boilerplate-heavy corpora put thousands
    * of docs behind one band hash and every probe would fan out against
    * all of them; capped members still index through their other bands. */
  def writeNearDupIndex(docs: DataFrame, table: String, nBuckets: Int = 32,
                        textCol: String = "text", idCol: String = "doc_id",
                        numHashes: Int = 32, shingleK: Int = 3, rowsPerBand: Int = 4,
                        maxBucketSize: Int = 256,
                        mode: SaveMode = SaveMode.Overwrite,
                        precomputedSigs: Option[DataFrame] = None): Unit = {
    // the sig stage is id + numHashes longs: checkpoint so the band
    // explode and the sig table don't each re-derive shingle hashing.
    // A caller holding this batch's signatures already (the ingest chain
    // probed the index with them) passes them in — MinHash is a pure
    // function of the text, so the values are identical to a recompute.
    val sigs = precomputedSigs.getOrElse(
      sigsOf(docs, textCol, idCol, numHashes, shingleK).localCheckpoint(false))
    // bucket spec == the probe's exact join keys (band, bh): a bucketed
    // scan only replaces the exchange when the keys match the spec — a
    // key SUPERSET makes the planner disable it and shuffle the corpus
    Dedup.capBuckets(bandsOf(sigs, idCol, rowsPerBand), Seq("band", "bh"), maxBucketSize)
      .repartition(nBuckets, col("band"), col("bh"))
      .write.bucketBy(nBuckets, "band", "bh").sortBy("band", "bh")
      .mode(mode).format("parquet").saveAsTable(bandTable(table))
    sigs.select(col(idCol).as("doc_id"), col("sig"))
      .repartition(nBuckets, col("doc_id"))
      .write.bucketBy(nBuckets, "doc_id").sortBy("doc_id")
      .mode(mode).format("parquet").saveAsTable(sigTable(table))
  }

  /** Near-duplicate matches of a NEW batch against the indexed corpus:
    * (doc_id, corpus_id, est_jaccard) for every batch doc whose estimated
    * Jaccard vs an indexed doc reaches `threshold`. The batch side is
    * tiny (signatures + band rows); both corpus joins are exchange-free
    * on the bucketed tables. `maxCandidatesPerDoc` bounds probe fan-out
    * against degenerate overlap by RANKING (keep the lowest corpus ids),
    * not by dropping — a doc with hundreds of matches is boilerplate,
    * precisely the doc that must stay flagged.
    *
    * Ids share ONE namespace with the index (the standing-corpus
    * contract `dropNearDupsAgainstIndex` already relies on), so
    * self-pairs (corpus_id == probe id) are excluded: probing a batch
    * whose docs are already indexed — an at-least-once replay, or a
    * re-scoring pass over indexed docs — reports only GENUINE neighbors
    * instead of every doc trivially matching itself. The sig-table read
    * dedupes by doc_id (exchange-free on the doc_id bucketing), so a
    * crash-window double append cannot duplicate match rows. */
  def nearDupsAgainstIndex(spark: SparkSession, newDocs: DataFrame, table: String,
                           textCol: String = "text", idCol: String = "doc_id",
                           numHashes: Int = 32, shingleK: Int = 3, rowsPerBand: Int = 4,
                           threshold: Double = 0.7,
                           maxCandidatesPerDoc: Int = 64,
                           precomputedSigs: Option[DataFrame] = None): DataFrame = {
    val sigs = precomputedSigs.getOrElse(
      sigsOf(newDocs, textCol, idCol, numHashes, shingleK).localCheckpoint(false))
    val probe = bandsOf(sigs, idCol, rowsPerBand)
      .withColumnRenamed("doc_id", "__new_id")
    val cands = probe.join(spark.table(bandTable(table)), Seq("band", "bh"))
      .filter(col("__new_id") =!= col("doc_id"))
      .select(col("__new_id"), col("doc_id").as("corpus_id")).distinct()
    val capped = cands
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__new_id"))
          .orderBy(col("corpus_id").asc)))
      .filter(col("__rn") <= maxCandidatesPerDoc).drop("__rn")
    val est = capped
      .join(spark.table(sigTable(table)).dropDuplicates("doc_id")
        .select(col("doc_id").as("corpus_id"), col("sig").as("__csig")), Seq("corpus_id"))
      .join(sigs.select(col(idCol).as("__new_id"), col("sig").as("__nsig")), Seq("__new_id"))
      // native codegen'd agreement count (graft.functions.ArrayAgreeCount)
      // — the per-candidate hot path of the standing service; bit-identical
      // to the aggregate(zip_with(...)) lambda it replaced
      .withColumn("est_jaccard",
        graft.functions.VectorExprs.agreeCount(col("__nsig"), col("__csig"))
          .cast("double") / lit(numHashes))
      .filter(col("est_jaccard") >= threshold)
    est.select(col("__new_id").as(idCol), col("corpus_id"),
      round(col("est_jaccard"), 6).as("est_jaccard"))
  }

  /** Incremental-ingest near-dedup: drop batch docs matching the index,
    * then dedupe near-dups WITHIN the batch (q66 semantics, lowest id
    * wins). Returns the survivors — feed them to
    * [[appendToNearDupIndex]]. */
  def dropNearDupsAgainstIndex(spark: SparkSession, newDocs: DataFrame, table: String,
                               textCol: String = "text", idCol: String = "doc_id",
                               numHashes: Int = 32, shingleK: Int = 3, rowsPerBand: Int = 4,
                               threshold: Double = 0.7): DataFrame =
    // ONE signature pass per batch: the index probe and the in-batch
    // dedup previously each derived the batch's MinHash signatures from
    // scratch (two shingle+hash scans per micro-batch — r17; the commit
    // latency of the standing ingest is this function)
    dropNearDupsAgainstIndexWithSigs(spark, newDocs, table, textCol, idCol,
      numHashes, shingleK, rowsPerBand, threshold)._1

  /** Fold a batch's survivors into the standing index (co-bucketed
    * append; Spark verifies the bucket spec matches). */
  def appendToNearDupIndex(survivors: DataFrame, table: String, nBuckets: Int = 32,
                           textCol: String = "text", idCol: String = "doc_id",
                           numHashes: Int = 32, shingleK: Int = 3, rowsPerBand: Int = 4,
                           maxBucketSize: Int = 256,
                           precomputedSigs: Option[DataFrame] = None): Unit =
    writeNearDupIndex(survivors, table, nBuckets, shingleK = shingleK,
      numHashes = numHashes, rowsPerBand = rowsPerBand,
      maxBucketSize = maxBucketSize, textCol = textCol, idCol = idCol,
      mode = SaveMode.Append, precomputedSigs = precomputedSigs)

  /** As [[dropNearDupsAgainstIndex]], additionally returning the batch's
    * checkpointed signature frame so the ingest chain can index the
    * survivors without a THIRD shingle+hash pass (r17; semi-join the
    * returned sigs by the survivor ids). */
  def dropNearDupsAgainstIndexWithSigs(spark: SparkSession, newDocs: DataFrame, table: String,
                                       textCol: String = "text", idCol: String = "doc_id",
                                       numHashes: Int = 32, shingleK: Int = 3,
                                       rowsPerBand: Int = 4,
                                       threshold: Double = 0.7): (DataFrame, DataFrame) = {
    val sigs = sigsOf(newDocs, textCol, idCol, numHashes, shingleK)
      .localCheckpoint(false)
    val vsCorpus = nearDupsAgainstIndex(spark, newDocs, table, textCol, idCol,
      numHashes, shingleK, rowsPerBand, threshold,
      precomputedSigs = Some(sigs))
      .select(col(idCol)).distinct()
    val inBatch = Dedup.minHashDuplicates(newDocs, textCol, idCol, numHashes,
      shingleK, rowsPerBand, threshold, precomputedSigs = Some(sigs))
      .select(col("id2").as(idCol)).distinct() // keep the lower id
    (newDocs.join(vsCorpus, Seq(idCol), "left_anti")
      .join(inBatch, Seq(idCol), "left_anti"), sigs)
  }

  // ===== Incremental PERCEPTUAL (dHash) media index =====================
  //
  // The media twin of the near-dup index: each indexed item keeps
  // (kind, prefix bucket, 64-bit dHash, doc_id) in ONE managed table
  // bucketed by the prefix bucket; a batch probe computes its dHashes
  // map-side (payload bytes never leave the batch scan) and joins the
  // index on (kind, bucket) exchange-free, then Hamming-filters. Recall
  // follows the batch operator's prefix-bucket contract (Multimodal.
  // perceptualDuplicates): a near-dup pair must agree on the top
  // prefixBits — lower prefixBits for recall, raise for pruning.

  // MIGRATION NOTE (round 9 → 10): perceptualRows switched from raw
  // byte-sampling dHash to kind-dispatched Multimodal.mediaHash (real
  // decoded-pixel/PCM/frame hashes for image/audio/video). A standing
  // `_phash` index written BEFORE that change still carries the old
  // byte-sampling values for audio/video rows — compactIndex preserves
  // rows, it never rehashes — so probes against such an index silently
  // miss those modalities. Rebuild the index (writePerceptualIndex over
  // the corpus) after upgrading; image rows were already mediaHash-shaped
  // and are unaffected.
  private def perceptualRows(media: DataFrame, prefixBits: Int): DataFrame = {
    val mask = (1L << prefixBits) - 1
    media.select(col("doc_id"), col("kind"),
        Multimodal.mediaHash(col("kind"), col("bytes")).as("ph"))
      .withColumn("pb",
        shiftright(col("ph"), 64 - prefixBits).bitwiseAND(lit(mask)))
  }

  def writePerceptualIndex(media: DataFrame, table: String, nBuckets: Int = 32,
                           prefixBits: Int = 12,
                           mode: SaveMode = SaveMode.Overwrite): Unit =
    // bucket spec == the probe's exact join keys (see writeNearDupIndex)
    perceptualRows(media, prefixBits)
      .repartition(nBuckets, col("kind"), col("pb"))
      .write.bucketBy(nBuckets, "kind", "pb").sortBy("kind", "pb")
      .mode(mode).format("parquet").saveAsTable(s"${table}_phash")

  /** Perceptual matches of a NEW media batch against the indexed corpus:
    * (doc_id, corpus_id, kind, dist) for Hamming distance <= maxDist
    * within the shared prefix bucket. `prefixBits` must match the index
    * build. Self-pairs are excluded and the index read dedupes full rows
    * (exchange-free: the grouping keys are a superset of the (kind, pb)
    * bucketing) — the same replay-safety contract as
    * [[nearDupsAgainstIndex]]. */
  def perceptualDupsAgainstIndex(spark: SparkSession, newMedia: DataFrame, table: String,
                                 maxDist: Int = 6, prefixBits: Int = 12): DataFrame =
    probePerceptualRows(spark, perceptualRows(newMedia, prefixBits), table, maxDist)

  /** The index probe over an ALREADY-HASHED (doc_id, kind, ph, pb) frame —
    * callers that also need in-batch pairs hash once and reuse (pixel
    * decode is the expensive step for media, unlike text shingling). */
  private def probePerceptualRows(spark: SparkSession, rows: DataFrame, table: String,
                                  maxDist: Int): DataFrame =
    rows
      .withColumnRenamed("doc_id", "__new_id").withColumnRenamed("ph", "__nph")
      .join(spark.table(s"${table}_phash").dropDuplicates(), Seq("kind", "pb"))
      .filter(col("__new_id") =!= col("doc_id"))
      .withColumn("dist", bit_count(col("__nph").bitwiseXOR(col("ph"))))
      .filter(col("dist") <= maxDist)
      .select(col("__new_id").as("doc_id"), col("doc_id").as("corpus_id"),
        col("kind"), col("dist"))

  /** Survivors of a media batch after perceptual dedup against BOTH the
    * standing index (when `table` exists) and lower-id batch siblings —
    * the media twin of [[dropNearDupsAgainstIndex]]. Each item's dHash
    * (one pixel decode) is computed ONCE into a small (doc_id, kind, ph,
    * pb) frame that serves both the in-batch pair join and the index
    * probe; the payload bytes are scanned once and never shuffle. */
  def dropPerceptualDupsAgainstIndex(spark: SparkSession, newMedia: DataFrame, table: String,
                                     maxDist: Int = 6, prefixBits: Int = 12,
                                     maxBucketSize: Int = 4096): DataFrame = {
    val rows = perceptualRows(newMedia, prefixBits).localCheckpoint(false)
    val capped = Dedup.capBuckets(rows, Seq("kind", "pb"), maxBucketSize)
    val a = capped.as("a"); val b = capped.as("b")
    val inBatch = a.join(b, col("a.kind") === col("b.kind") &&
        col("a.pb") === col("b.pb") && col("a.doc_id") < col("b.doc_id"))
      .filter(bit_count(col("a.ph").bitwiseXOR(col("b.ph"))) <= maxDist)
      .select(col("b.doc_id").as("doc_id")).distinct() // keep the lower id
    val dropIds =
      if (spark.catalog.tableExists(s"${table}_phash"))
        inBatch.unionByName(
          probePerceptualRows(spark, rows, table, maxDist)
            .select(col("doc_id")).distinct())
      else inBatch
    newMedia.join(dropIds.distinct(), Seq("doc_id"), "left_anti")
  }

  def appendToPerceptualIndex(media: DataFrame, table: String, nBuckets: Int = 32,
                              prefixBits: Int = 12): Unit =
    writePerceptualIndex(media, table, nBuckets, prefixBits, SaveMode.Append)

  // ===== Standing-index COMPACTION ======================================
  //
  // Every appendTo* above adds a file SET per microbatch (saveAsTable
  // append writes nBuckets new files); after thousands of batches the
  // bucketed probes read thousands of small files per bucket — the same
  // read-amplification the part-key index's LSM deltas accrue, and the
  // same maintenance answer (Ingest.compactHwm's base fold; reference
  // analogue: Lucene segment merges / C* compaction). compactIndex folds each index
  // table to ONE segment per bucket, PRESERVING the catalog bucket spec
  // exactly, so the zero-exchange probe plans are untouched.

  /** Compact every table of a standing index family that exists —
    * `<table>` (fingerprint), `<table>_bands`/`_sigs` (near-dup),
    * `<table>_phash` (perceptual). Folds are pure consolidations: bands
    * and phash rows dedupe exactly (collapsing the crash-window
    * double-append the probes already tolerate), sigs keep one row per
    * doc_id, fingerprints keep the minimum doc_id per fp (the
    * writeFingerprintIndex fold). NO re-capping: capBuckets applies at
    * write time only, so a probe sees the identical row set before and
    * after — compaction changes file counts, never results.
    *
    * Crash safety (a staged swap, expressed in catalog operations): the
    * fold writes to `<t>__compact` first — a
    * crash before the swap leaves the live table untouched (rerun to
    * retry; the stale staging table is dropped up front). The swap is
    * DROP live + RENAME staging→live: a crash between the two leaves the
    * fully-folded staging table holding every row — recovery = rerun
    * compactIndex (which completes the rename) or rename manually.
    * Concurrent appenders must be quiesced across the swap. */
  def compactIndex(spark: SparkSession, table: String): Unit = {
    compactBucketedTable(spark, table,
      _.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id")))
    compactBucketedTable(spark, bandTable(table), _.distinct())
    compactBucketedTable(spark, sigTable(table), _.dropDuplicates("doc_id"))
    compactBucketedTable(spark, s"${table}_phash", _.distinct())
  }

  /** Rewrite one bucketed managed table as a single segment (one file per
    * bucket), preserving its catalog bucket/sort spec. Also completes an
    * interrupted prior swap (live table missing, staging present). */
  private def compactBucketedTable(spark: SparkSession, t: String,
                                   fold: DataFrame => DataFrame): Unit = {
    val staging = s"${t}__compact"
    if (!spark.catalog.tableExists(t)) {
      // crash window recovery: the previous run dropped the live table
      // but died before the rename — the staging table IS the fold
      if (spark.catalog.tableExists(staging))
        spark.sql(s"ALTER TABLE $staging RENAME TO $t")
      return
    }
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(t))
    val spec = meta.bucketSpec.getOrElse(throw new IllegalStateException(
      s"$t is not bucketed — not a standing-index table"))
    // a dead staging table (and its orphaned directory — the in-memory
    // catalog forgets tables a previous session created) must go first
    spark.sql(s"DROP TABLE IF EXISTS $staging")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), staging.toLowerCase)
    wh.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wh, true)
    val bCols = spec.bucketColumnNames
    val writer = fold(spark.table(t))
      .repartition(spec.numBuckets, bCols.map(col): _*)
      .write.bucketBy(spec.numBuckets, bCols.head, bCols.tail: _*)
    val sorted = spec.sortColumnNames match {
      case s if s.nonEmpty => writer.sortBy(s.head, s.tail: _*)
      case _ => writer
    }
    sorted.format("parquet").saveAsTable(staging)
    spark.sql(s"DROP TABLE $t")
    spark.sql(s"ALTER TABLE $staging RENAME TO $t")
  }
}
