package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical time-series data model.
  *
  * Mirrors the reference's long/narrow sample layout (SURVEY.md §1.1): one
  * row per sample of one series, where a series is identified by a metric
  * name plus a label map, and `series_id` is a stable 64-bit hash of the
  * fully-qualified series (the analogue of the reference part-key hash).
  * [[SeriesKey]] owns that identity format for every writer, the events
  * stream's `Ingest.normalize` included; only the batch oracle fixture
  * [[eventsAsSamples]] keeps its own narrow `xxhash64(metric, user)`.
  *
  * The driver's `events` parquet is the stand-in stream table
  * (FIXTURES.md §B): metric = event_type, one label `user` = user_id,
  * ts normalized to epoch millis (reference native unit), value as-is.
  */
object TsTables {

  /** Epoch-millis from whatever physical type the driver wrote `ts` as:
    * TIMESTAMP(NANOS) surfaces as Long under `nanosAsLong` (integer
    * division — double math would lose precision above 2^53),
    * TIMESTAMP(MICROS)/MILLIS as (NTZ) timestamps (`unix_millis`, exact;
    * session tz is pinned UTC so the NTZ cast is identity). The oracle's
    * `epoch_ns(ts)//1000000` is precision-agnostic the same way. */
  def tsMillis(df: DataFrame, tsCol: String = "ts"): org.apache.spark.sql.Column =
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.LongType => expr(s"$tsCol div 1000000")
      case _ => unix_millis(col(tsCol).cast("timestamp"))
    }

  /** events with `ts_ms: Long` (epoch millis, exact). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.withColumn("ts_ms", tsMillis(raw))
  }

  /** Long/narrow canonical samples table from events; one series per
    * (event_type, user). `__tie` = event_id keeps within-millisecond sample
    * order deterministic. */
  def eventsAsSamples(spark: SparkSession, dir: String): DataFrame = {
    events(spark, dir).select(
      col("event_type").as("metric"),
      map(lit("user"), col("user_id").cast("string")).as("tags"),
      col("ts_ms").as("ts"),
      col("value"),
      col("event_id").as("__tie"))
      .withColumn("series_id", xxhash64(col("metric"), col("tags")("user")))
  }

  /** Coarser mapping: one dense series per event_type (no user label). */
  def eventsAsTypeSamples(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      col("event_type").as("metric"),
      map().cast("map<string,string>").as("tags"),
      col("ts_ms").as("ts"),
      col("value"),
      col("event_id").as("__tie"))

  /** Bucket-series samples (Prometheus `*_bucket` convention): each event
    * contributes one indicator sample per `le` bound (1.0 if value <= le).
    * `sum_over_time` over these per-le series yields exact cumulative
    * bucket counts, so bucket-series histogram_quantile/fraction are
    * oracle-checkable end to end. */
  def eventsAsBucketSamples(spark: SparkSession, dir: String): DataFrame = {
    val bounds = graft.functions.Histograms.DefaultBounds
    events(spark, dir).select(
      col("event_type").as("metric"),
      col("ts_ms").as("ts"), col("value"), col("event_id"))
      .select(col("metric"), col("ts"), col("event_id"),
        explode(array(bounds.map(lit): _*)).as("le_bound"), col("value"))
      .select(
        col("metric"),
        map(lit("le"), col("le_bound").cast("string")).as("tags"),
        col("ts"),
        when(col("value") <= col("le_bound"), 1.0).otherwise(0.0).as("value"),
        col("event_id").as("__tie"))
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/lineitem.parquet")
  def orders(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/orders.parquet")
  def customer(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/customer.parquet")
  def supplier(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/supplier.parquet")
  def part(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/part.parquet")
  def nation(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/nation.parquet")
  def region(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/region.parquet")
  def documents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** Query grid constants shared by SparkEntry queries and their oracles:
    * the events table spans exactly 2024-01-01T00:00Z .. 2024-01-31T00:00Z
    * at every scale factor. */
  val EventsStartMs: Long = 1704067200000L            // 2024-01-01T00:00:00Z
  val EventsEndMs: Long   = EventsStartMs + 30L * 86400000L // 2024-01-31T00:00:00Z
  val Hour: Long = 3600000L
  val Day: Long = 86400000L
}
