package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.pipeline.{CorpusLayout, Multimodal}
import graft.streaming.Ingest

/** STREAMING-scale rehearsal: the batch operators' 10x/100x rehearsal
  * (ScaleRehearsal; TimeOne was retired after commit d710d6d) covers
  * one-shot jobs; this drives the STANDING-SERVICE write path —
  * `processDocBatch` / `processMediaBatch`
  * against a pre-seeded index — and records per-batch latency as a
  * function of standing-index size: the axis that decides whether the
  * near-dup ingest service holds at corpus scale. By the bucketed-probe
  * design the per-batch cost should be flat-to-logarithmic in index size
  * (the corpus side is never shuffled; only file-count and bucket-scan
  * width grow), and a mid-sequence `compactIndex` should hold the line
  * after many appended file sets.
  *
  * Per corpus dir: seed the near-dup + perceptual indexes from
  * documents.parquet, run `batches` fixed-size batches (10% of each batch
  * replays corpus content under fresh ids — real drop work, not just
  * probe misses), then compact and run one more batch.
  *
  * Usage: runMain graft.tools.StreamingRehearsal <docsDir> [<docsDir>...]
  *        [--batches N] [--batchSize N]
  */
object StreamingRehearsal {

  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def runOne(spark: SparkSession, dir: String, batches: Int, batchSize: Int): Unit = {
    import spark.implicits._
    val table = "srh"
    for (t <- Seq(s"${table}_bands", s"${table}_sigs", s"${table}_phash")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val wh = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      wh.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wh, true)
    }
    val sinkRoot = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "srh_sink").toString
    new org.apache.hadoop.fs.Path(sinkRoot).getFileSystem(
      spark.sparkContext.hadoopConfiguration).delete(
        new org.apache.hadoop.fs.Path(sinkRoot), true)

    val corpus = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val n = corpus.count()
    // replay pool: a slice of corpus text re-offered under fresh ids so
    // every batch does REAL drop work against the standing index
    val replayPool = corpus.limit(batchSize).collect()
      .map(r => (r.getLong(0), r.getString(1)))

    val seedDoc = time {
      CorpusLayout.writeNearDupIndex(corpus, table, nBuckets = 32)
    }
    val seedMedia = time {
      CorpusLayout.writePerceptualIndex(
        Multimodal.synthesizeMedia(corpus), table, nBuckets = 32)
    }
    println(f"corpus=$dir docs=$n seed_neardup=$seedDoc%.2f s seed_perceptual=$seedMedia%.2f s")

    def batchDf(b: Int) = {
      val fresh = (0 until batchSize * 9 / 10).map { j =>
        val id = 5000000000L + b.toLong * batchSize + j
        // disjoint per-doc vocabulary: novel docs never near-match
        (id, (0 until 40).map(w => s"nv${b}x${j}w$w").mkString(" "))
      }
      val replays = (0 until batchSize / 10).map { j =>
        val (srcId, text) = replayPool((b * 7 + j * 13) % replayPool.length)
        (6000000000L + b.toLong * batchSize + j, text + s" tail$srcId")
      }
      (fresh ++ replays).toDF("doc_id", "text")
    }

    for (b <- 0 until batches) {
      val df = batchDf(b).localCheckpoint()
      val tDoc = time {
        Ingest.processDocBatch(df, b.toLong, table, s"$sinkRoot/doc", nBuckets = 32)
      }
      val tMedia = time {
        Ingest.processMediaBatch(Multimodal.synthesizeMedia(df), b.toLong,
          table, s"$sinkRoot/media", nBuckets = 32)
      }
      println(f"  batch=$b size=$batchSize doc_batch=$tDoc%.2f s media_batch=$tMedia%.2f s")
    }
    val tCompact = time { CorpusLayout.compactIndex(spark, table) }
    val df = batchDf(batches).localCheckpoint()
    val tDocAfter = time {
      Ingest.processDocBatch(df, batches.toLong, table, s"$sinkRoot/doc", nBuckets = 32)
    }
    val tMediaAfter = time {
      Ingest.processMediaBatch(Multimodal.synthesizeMedia(df), batches.toLong,
        table, s"$sinkRoot/media", nBuckets = 32)
    }
    println(f"  compact=$tCompact%.2f s post_compact_doc=$tDocAfter%.2f s " +
      f"post_compact_media=$tMediaAfter%.2f s")
  }

  def main(args: Array[String]): Unit = {
    val dirs = scala.collection.mutable.Buffer[String]()
    var batches = 4
    var batchSize = 500
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--batches" => batches = args(i + 1).toInt; i += 2
        case "--batchSize" => batchSize = args(i + 1).toInt; i += 2
        case d => dirs += d; i += 1
      }
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dirs.foreach(d => runOne(spark, d, batches, batchSize))
    spark.stop()
  }
}
