package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import graft.GraftSession
import graft.streaming.Ingest

/** Batch downsample job — the reference's spark-jobs downsampler
  * (`spark-jobs/.../DownsamplerMain.scala:57-131`, itself a Spark batch
  * over raw chunks) re-expressed directly: read a raw samples table, emit
  * one ds-gauge table per configured resolution. Buckets are the
  * reference's (k·res, (k+1)·res] periods and rows carry the BUCKET-END
  * representative ts (the window is shifted 1 ms and the end backed off
  * 1 ms), so the query-time routing (`DownsampleRouting` / cold-tier
  * planner, which filters `ts <= boundary` at natural bucket ends) reads
  * the output unchanged.
  *
  * Usage: DownsampleJob <rawDir> <outDir> [res1,res2,...]
  * Series identity = every column except ts/value (the long-table model:
  * anything that isn't the sample is the key). Map-typed columns (the
  * canonical `tags`) are grouped via their sorted entry arrays — maps are
  * not orderable in Spark — and restored to maps in the output.
  */
object DownsampleJob {

  def run(spark: SparkSession, rawDir: String, outDir: String,
          resolutions: Seq[String]): Unit = {
    val raw = spark.read.parquet(rawDir)
    val seriesCols = raw.columns.filterNot(Set("ts", "value", "__tie")).toSeq
    val mapCols = raw.schema.fields
      .filter(f => seriesCols.contains(f.name) && f.dataType.isInstanceOf[MapType])
      .map(_.name).toSeq
    val prepped = mapCols.foldLeft(raw)((d, c) =>
      d.withColumn(c, graft.model.SeriesKey.entriesOf(col(c))))
    resolutions.foreach { res =>
      val ds = Ingest.downsample(prepped, res, bucketOffset = "1 millisecond",
          seriesCols = seriesCols)
        .withColumn("ts", col("ts") - 1) // representative ts = bucket end
      mapCols.foldLeft(ds)((d, c) => d.withColumn(c, map_from_entries(col(c))))
        .write.mode("overwrite")
        .parquet(s"$outDir/ds_${res.trim.replace(" ", "_")}")
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: DownsampleJob <rawDir> <outDir> [res1,res2,...]")
      sys.exit(2)
    }
    val Array(rawDir, outDir) = args.take(2)
    val resolutions =
      if (args.length > 2) args(2).split(",").toSeq.map(_.trim)
      else Seq("5 minutes", "1 hour")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, rawDir, outDir, resolutions)
    spark.stop()
  }
}
