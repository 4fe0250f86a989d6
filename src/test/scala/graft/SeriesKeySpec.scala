package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.model.{SeriesKey, TsLayout}
import graft.operators.Quota
import graft.streaming.{Gateway, Ingest}

/** The persisted series identity: sinks and series indexes on disk hold
  * `series_id` and `__key` values, so their bytes are pinned here, and
  * every writer must mint the same id for the same series. */
class SeriesKeySpec extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = GraftSession.builder("local[4]", "4").getOrCreate()
  import spark.implicits._

  private val adversarial = Map("q" -> "quo\"te", "b" -> "back\\slash",
    "n" -> "new\nline\ttab", "u" -> "unié中", "e" -> "")

  test("series_id and the JSON key keep their recorded bytes") {
    // literals computed with xxhash64(metric, to_json(array_sort(
    // map_entries(tags)))) before SeriesKey existed
    val golden = Seq(
      ("http_requests_total", Map("job" -> "api", "instance" -> "h1:9090"),
        5031592948772473213L,
        """[{"key":"instance","value":"h1:9090"},{"key":"job","value":"api"}]"""),
      ("up", Map.empty[String, String], -7952901298389162647L, "[]"),
      ("adv", adversarial, 5261030234662422005L,
        """[{"key":"b","value":"back\\slash"},{"key":"e","value":""},""" +
        """{"key":"n","value":"new\nline\ttab"},{"key":"q","value":"quo\"te"},""" +
        """{"key":"u","value":"unié中"}]"""))
    val got = golden.map { case (m, t, _, _) => (m, t) }.toDF("metric", "tags")
      .select(col("metric"), SeriesKey.id(col("metric"), col("tags")),
        SeriesKey.key(col("tags")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    golden.foreach { case (m, tags, id, key) =>
      withClue(m) {
        got(m) shouldEqual (id, key)
        SeriesKey.decode(key) shouldEqual tags.toSeq.sortBy(_._1)
      }
    }
  }

  test("every writer persists the same series_id for one series") {
    val tags = Map("region" -> "eu", "q" -> "quo\"te", "host" -> "a", "b" -> "back\\slash")
    val reordered = Map("b" -> "back\\slash", "host" -> "a", "q" -> "quo\"te", "region" -> "eu")
    val want = Seq(("cpu", tags)).toDF("metric", "tags")
      .select(SeriesKey.id(col("metric"), col("tags"))).head().getLong(0)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.filter(col("metric") === "cpu").select("series_id").distinct()
        .collect().map(_.getLong(0)).toSet

    val dir = java.nio.file.Files.createTempDirectory("graft-seriesid").toString
    val samples = Seq(("cpu", tags, 1000L, 1.0), ("cpu", reordered, 2000L, 2.0),
        ("mem", tags, 1000L, 3.0))
      .toDF("metric", "tags", "ts", "value")
    TsLayout.write(samples, s"$dir/layout")
    val layout = ids(spark.read.parquet(s"$dir/layout"))

    val promText = ids(Gateway.promTextSamples(Seq(
      "cpu{region=\"eu\",q=\"quo\\\"te\",host=\"a\",b=\"back\\\\slash\"} 1 1000")
      .toDF("body"), 0L))
    val influx = ids(Gateway.influxSamples(Seq(
      "cpu,b=back\\\\slash,host=a,q=quo\\\"te,region=eu value=1 1000000000")
      .toDF("line"), 0L))

    Ingest.remoteWriteBatch(samples, 0L, s"$dir/sink", s"$dir/reject",
      Quota.QuotaConfig(Seq("metric"), Seq(1000000L)), new Ingest.KnownSeries(spark, s"$dir/index"))
    val sink = ids(spark.read.parquet(s"$dir/sink"))
    val index = ids(spark.read.parquet(s"$dir/index"))

    Seq("TsLayout.write" -> layout, "Gateway.promTextSamples" -> promText,
        "Gateway.influxSamples" -> influx, "remoteWriteBatch sink" -> sink,
        "remoteWriteBatch index" -> index).foreach { case (writer, got) =>
      withClue(writer) { got shouldEqual Set(want) }
    }

    // the events stream's one label: an events row for (cpu, user 7) is
    // the series a writer of cpu{user="7"} mints
    val wantUser = Seq(("cpu", Map("user" -> "7"))).toDF("metric", "tags")
      .select(SeriesKey.id(col("metric"), col("tags"))).head().getLong(0)
    val events = ids(Ingest.normalize(
      Seq((1L, 1000000000L, 7L, "cpu", 1.0, "")).toDF("event_id", "ts", "user_id",
        "event_type", "value", "props")))
    val influxUser = ids(Gateway.influxSamples(Seq("cpu,user=7 value=1 1000000000")
      .toDF("line"), 0L))
    Seq("Ingest.normalize" -> events, "Gateway.influxSamples" -> influxUser).foreach {
      case (writer, got) => withClue(writer) { got shouldEqual Set(wantUser) }
    }
    // a different metric over the same tags is a different series
    ids(spark.read.parquet(s"$dir/layout").withColumn("metric", lit("cpu"))) should
      have size 2
  }
}
