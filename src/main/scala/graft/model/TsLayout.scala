package graft.model

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Physical layout of the canonical samples table at scale (SURVEY.md §1.1
  * "Spark mapping", §4 predicate-pushdown row).
  *
  * Directory partitioning `metric=<m>/date=<d>` gives partition PRUNING for
  * every query carrying a metric + time predicate — the Spark analogue of
  * the reference's shard-key routing plus time-bucketed chunks. Within a
  * partition, rows are repartitioned by series hash and sorted by
  * (series_id, ts), so one parquet row-group holds contiguous runs of one
  * series (delta-friendly encoding, and the window kernel's shuffle reads
  * mostly co-located series).
  *
  * At 100 TB: date partitions bound scan width; `seriesBuckets` bounds file
  * count per partition; nothing is driver-side.
  */
object TsLayout {

  /** Canonical series identity ([[SeriesKey.id]]) — the same id every
    * writer persists, so the partitioned and bucketed layouts can never
    * compute different ids for the same series (their reconciliation
    * joins depend on it). */
  private def withSeriesId(samples: DataFrame): DataFrame =
    if (samples.columns.contains("series_id")) samples
    else samples.withColumn("series_id", SeriesKey.id(col("metric"), col("tags")))

  /** Write samples (metric, tags, ts ms, value, [series_id]) to the
    * partitioned layout. */
  def write(samples: DataFrame, path: String, seriesBuckets: Int = 8,
            mode: SaveMode = SaveMode.Overwrite): Unit = {
    val withCols = withSeriesId(samples)
      .withColumn("date", to_date(timestamp_millis(col("ts"))))
    withCols
      .repartition(seriesBuckets, col("metric"), col("date"), pmod(col("series_id"), lit(seriesBuckets)))
      .sortWithinPartitions(col("series_id"), col("ts"))
      .write
      .partitionBy("metric", "date")
      .mode(mode)
      .parquet(path)
  }

  /** Read the layout back; metric/time filters prune partitions. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Bucketed-table variant: persist samples as a managed table bucketed
    * (and sorted) by `series_id`, so joins and aggregations keyed on
    * series_id between same-bucketed tables plan with ZERO exchange —
    * Spark treats the bucket files as pre-shuffled input. This is the
    * co-located-join layout for recurring series-keyed jobs at 100 TB
    * (raw × downsample reconciliation, series-level backfills): the
    * shuffle is paid once at write, never per query. TsLayoutSpec pins
    * the no-exchange join plan. */
  def writeBucketed(samples: DataFrame, table: String, nBuckets: Int = 32,
                    mode: SaveMode = SaveMode.Overwrite): Unit =
    withSeriesId(samples)
      // pre-shuffle to nBuckets tasks on the SAME hash bucketBy uses
      // (murmur3 % n): each task then writes exactly one bucket file —
      // without this, every input task writes up to nBuckets files
      // (P×n small-files explosion, fragmenting every bucketed scan)
      .repartition(nBuckets, col("series_id"))
      .write
      .bucketBy(nBuckets, "series_id")
      .sortBy("series_id", "ts")
      .mode(mode)
      .format("parquet")
      .saveAsTable(table)

  /** Retention enforcement (the reference's time-bucket TTL, applied as
    * partition-level file operations): drop every `date=` partition
    * strictly older than `cutoff` across all metrics. Driver work is
    * O(#partition dirs) listings + deletes — no data is scanned or
    * rewritten, which is what makes retention viable at 100 TB (dropping
    * a day is a directory unlink, not a compaction). Returns the dropped
    * partition paths. */
  def dropOlderThan(spark: SparkSession, path: String,
                    cutoff: java.time.LocalDate): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    val dropped = for {
      metricDir <- fs.listStatus(root).toSeq if metricDir.isDirectory &&
        metricDir.getPath.getName.startsWith("metric=")
      dateDir <- fs.listStatus(metricDir.getPath).toSeq if dateDir.isDirectory &&
        dateDir.getPath.getName.startsWith("date=")
      d = java.time.LocalDate.parse(dateDir.getPath.getName.stripPrefix("date="))
      if d.isBefore(cutoff)
    } yield {
      fs.delete(dateDir.getPath, true)
      dateDir.getPath.toString
    }
    dropped
  }

  /** Small-file compaction for ONE (metric, date) partition — the
    * reference's chunk compaction as a partition-scoped rewrite: read the
    * partition's files, restore the (series_id, ts) clustering at the
    * target file count, write beside the live directory (dot-prefixed, so
    * readers never list it) and swap with two renames. Scoped to one
    * partition so the job is restartable and the blast radius of a crash
    * is that partition's swap window; pair with [[dropOlderThan]] on the
    * same maintenance cadence. Returns the file count before → after. */
  def compactPartition(spark: SparkSession, path: String, metric: String,
                       date: String, nFiles: Int = 1): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(s"$path/metric=$metric/date=$date")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(dir), s"no partition at $dir")
    def dataFiles(p: Path) = fs.listStatus(p).count(s => s.isFile &&
      !s.getPath.getName.startsWith(".") && !s.getPath.getName.startsWith("_"))
    val before = dataFiles(dir)
    val tmp = new Path(dir.getParent, s".compact-date=$date")
    spark.read.parquet(dir.toString)
      .repartition(nFiles, col("series_id"))
      .sortWithinPartitions(col("series_id"), col("ts"))
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val bak = new Path(dir.getParent, s".old-date=$date")
    if (fs.exists(bak)) fs.delete(bak, true)
    fs.rename(dir, bak)
    fs.rename(tmp, dir)
    fs.delete(bak, true)
    (before, dataFiles(dir))
  }

  /** Persist the part-key index (MetadataOps.buildSeriesIndex) partitioned
    * by metric: every metadata probe that names a metric — match[]
    * selectors, label_values under a selector — prunes to that metric's
    * directory; the table is series-cardinality-sized, so even the
    * unpruned scan is tiny next to the samples. Refresh per ingest window
    * (the reference rebuilds its Lucene index on the same cadence). */
  def writeSeriesIndex(samples: DataFrame, path: String,
                       mode: SaveMode = SaveMode.Overwrite): Unit =
    graft.operators.MetadataOps.buildSeriesIndex(withSeriesId(samples))
      .write.partitionBy("metric").mode(mode).parquet(path)
}
