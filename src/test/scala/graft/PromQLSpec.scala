package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.promql._
import graft.model.TsTables
import graft.operators.{PeriodicSamples, RangeFns}

class PromQLSpec extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = GraftSession.builder("local[4]", "4").getOrCreate()
  import spark.implicits._

  // ---------- parser ----------

  test("parses selector with matchers, range and offset") {
    Parser.parse("""http_requests_total{job="api", status=~"5.."}[5m] offset 1h""") shouldEqual
      Selector(Some("http_requests_total"),
        Seq(LabelMatcher("job", MatchOp.Eq, "api"), LabelMatcher("status", MatchOp.Re, "5..")),
        Some(300000L), 3600000L)
  }

  test("parses sum(rate(...)) by clause") {
    Parser.parse("""sum(rate(m{a="b"}[5m])) by (job)""") shouldEqual
      Agg("sum", FuncCall("rate", Seq(
        Selector(Some("m"), Seq(LabelMatcher("a", MatchOp.Eq, "b")), Some(300000L)))),
        None, Seq("job"), Nil)
  }

  test("precedence: or < and < comparison < add < mul < pow(right)") {
    val e = Parser.parse("a + b * c ^ d ^ e")
    e shouldEqual BinOp("+", Selector(Some("a"), Nil),
      BinOp("*", Selector(Some("b"), Nil),
        BinOp("^", Selector(Some("c"), Nil),
          BinOp("^", Selector(Some("d"), Nil), Selector(Some("e"), Nil)))))
  }

  test("parses on/ignoring group_left and bool") {
    Parser.parse("a / on(job) group_left(env) b") shouldEqual
      BinOp("/", Selector(Some("a"), Nil), Selector(Some("b"), Nil), bool = false,
        Some(VectorMatch(on = true, Seq("job"), groupLeft = true, include = Seq("env"))))
    Parser.parse("a > bool 0") shouldEqual
      BinOp(">", Selector(Some("a"), Nil), NumberLit(0), bool = true)
  }

  test("parses quantile param, durations with multiple units, subquery") {
    Parser.parse("quantile(0.9, m)") shouldEqual
      Agg("quantile", Selector(Some("m"), Nil), Some(NumberLit(0.9)), Nil, Nil)
    Parser.parse("rate(m[1h30m])") shouldEqual
      FuncCall("rate", Seq(Selector(Some("m"), Nil, Some(5400000L))))
    Parser.parse("max_over_time(rate(m[5m])[1h:5m])") shouldEqual
      FuncCall("max_over_time", Seq(Subquery(
        FuncCall("rate", Seq(Selector(Some("m"), Nil, Some(300000L)))), 3600000L, Some(300000L))))
  }

  test("__name__ matcher hoists to metric") {
    Parser.parse("""{__name__="m", x!="y"}""") shouldEqual
      Selector(Some("m"), Seq(LabelMatcher("x", MatchOp.Ne, "y")))
  }

  // ---------- planner end-to-end ----------

  private def samplesDF = Seq(
    // metric, user, ts, value
    ("purchase", "1", 1000L, 10.0), ("purchase", "1", 2000L, 20.0),
    ("purchase", "1", 3000L, 40.0), ("purchase", "2", 2000L, 5.0),
    ("view", "1", 2000L, 100.0), ("view", "2", 2500L, 7.0)
  ).toDF("metric", "user", "ts", "value")
    .select(col("metric"), map(lit("user"), col("user")).as("tags"), col("ts"), col("value"))

  private def ctx(start: Long, end: Long, step: Long) =
    PromPlanner.Ctx(spark, samplesDF, start, end, step, lookbackMs = 3000L)

  test("instant selector = last_over_time over staleness window") {
    val out = PromPlanner.queryRange(ctx(3000, 3000, 1000), """purchase{user="1"}""")
      .select("step_ts", "value").as[(Long, Double)].collect()
    out shouldEqual Array((3000L, 40.0))
  }

  test("sum(rate) composes kernel and aggregation") {
    val out = PromPlanner.queryRange(ctx(3000, 3000, 1000), "sum(rate(purchase[3s]))")
      .select("value").as[Double].collect()
    out.length shouldEqual 1
    // user=1: rate over (0,3000]: samples (1000,10),(2000,20),(3000,40)
    val expected = RangeFns.extrapolated(0, 3000, 3, 1000, 10.0, 3000, 40.0,
      isCounter = true, isRate = true)
    out.head shouldEqual expected +- 1e-9 // user=2 has 1 sample -> no rate
  }

  test("regex matcher simplification preserves anchored-match semantics") {
    val c = ctx(3000, 3000, 1000)
    // alternation -> IN
    PromPlanner.queryRange(c, """sum_over_time({__name__=~"purchase|view", user="1"}[3s])""")
      .count() shouldEqual 2
    // literal prefix -> startsWith (anchored: matches "1" but not "21")
    PromPlanner.queryRange(c, """sum_over_time(purchase{user=~"1.*"}[3s])""")
      .select(col("labels")("user")).as[String].collect() shouldEqual Array("1")
    // negated alternation
    PromPlanner.queryRange(c, """sum_over_time(purchase{user!~"1|3"}[3s])""")
      .select(col("labels")("user")).as[String].collect() shouldEqual Array("2")
    // non-simplifiable patterns still full-match
    PromPlanner.queryRange(c, """sum_over_time(purchase{user=~"[12]"}[3s])""")
      .count() shouldEqual 2
  }

  test("binary op joins on matching labels minus __name__") {
    val out = PromPlanner.queryRange(ctx(3000, 3000, 1000),
      "sum_over_time(purchase[3s]) / sum_over_time(view[3s])")
      .select(col("labels")("user"), col("value")).as[(String, Double)].collect().sortBy(_._1)
    out shouldEqual Array(("1", 70.0 / 100.0), ("2", 5.0 / 7.0))
  }

  test("comparison filters; bool yields 0/1") {
    PromPlanner.queryRange(ctx(3000, 3000, 1000), "sum_over_time(purchase[3s]) > 50")
      .select(col("labels")("user")).as[String].collect() shouldEqual Array("1")
    PromPlanner.queryRange(ctx(3000, 3000, 1000), "sum_over_time(purchase[3s]) > bool 50")
      .select(col("labels")("user"), col("value")).as[(String, Double)].collect()
      .sortBy(_._1) shouldEqual Array(("1", 1.0), ("2", 0.0))
  }

  test("and/unless/or set semantics at matching steps") {
    val c = ctx(3000, 3000, 1000)
    PromPlanner.queryRange(c, "sum_over_time(purchase[3s]) and sum_over_time(view[3s])")
      .count() shouldEqual 2
    PromPlanner.queryRange(c, """sum_over_time(purchase{user="1"}[3s]) unless sum_over_time(view[3s])""")
      .count() shouldEqual 0
    PromPlanner.queryRange(c, """sum_over_time(purchase{user="1"}[3s]) or sum_over_time(view[3s])""")
      .count() shouldEqual 2 // purchase{1} plus view{2} (view{1} key collides with purchase{1} after name drop)
  }

  test("aggregation by/without and topk") {
    val c = ctx(3000, 3000, 1000)
    PromPlanner.queryRange(c, "sum(sum_over_time(purchase[3s])) by (user)")
      .count() shouldEqual 2
    PromPlanner.queryRange(c, "topk(1, sum_over_time(purchase[3s]))")
      .select(col("labels")("user")).as[String].collect() shouldEqual Array("1")
  }

  test("label_replace and label_join rewrite label maps") {
    val c = ctx(3000, 3000, 1000)
    val lr = PromPlanner.queryRange(c,
      """label_replace(sum_over_time(purchase[3s]), "shard", "u$1", "user", "(.*)")""")
      .select(col("labels")("shard")).as[String].collect().sorted
    lr shouldEqual Array("u1", "u2")
    val lj = PromPlanner.queryRange(c,
      """label_join(sum_over_time(purchase[3s]), "combo", "-", "user", "user")""")
      .select(col("labels")("combo")).as[String].collect().sorted
    lj shouldEqual Array("1-1", "2-2")
  }

  test("absent emits 1 when no series, nothing otherwise") {
    val c = ctx(3000, 3000, 1000)
    PromPlanner.queryRange(c, """absent(nosuch{job="x"})""")
      .select(col("labels")("job"), col("value")).as[(String, Double)].collect() shouldEqual
      Array(("x", 1.0))
    PromPlanner.queryRange(c, "absent(purchase)").count() shouldEqual 0
  }

  test("scalar() and time() and instant math") {
    val c = ctx(3000, 3000, 1000)
    PromPlanner.queryRange(c, """scalar(sum(sum_over_time(purchase[3s]))) * 2""")
      .select("value").as[Double].collect().head shouldEqual 150.0
    PromPlanner.queryRange(c, "time()").select("value").as[Double].collect().head shouldEqual 3.0
    PromPlanner.queryRange(c, "clamp_max(sqrt(sum_over_time(purchase[3s])), 5)")
      .select("value").as[Double].collect().sorted shouldEqual
      Array(math.sqrt(5.0), 5.0)
  }

  test("vector op scalar(expr) applies per step, never joins on labels") {
    val c = ctx(3000, 3000, 1000)
    // scalar = sum of all views at step 3000 = 107
    val div = PromPlanner.queryRange(c,
      "sum_over_time(purchase[3s]) / scalar(sum(sum_over_time(view[3s])))")
      .select(col("labels")("user"), col("value")).as[(String, Double)].collect().sortBy(_._1)
    div shouldEqual Array(("1", 70.0 / 107.0), ("2", 5.0 / 107.0))
    // scalar on the LEFT keeps operand order
    val sub = PromPlanner.queryRange(c,
      "scalar(sum(sum_over_time(view[3s]))) - sum_over_time(purchase[3s])")
      .select(col("labels")("user"), col("value")).as[(String, Double)].collect().sortBy(_._1)
    sub shouldEqual Array(("1", 37.0), ("2", 102.0))
    // comparison against a scalar expr filters, keeping the vector value
    PromPlanner.queryRange(c,
      "sum_over_time(purchase[3s]) > scalar(sum(sum_over_time(view[3s])) / 2)")
      .select(col("labels")("user"), col("value")).as[(String, Double)].collect() shouldEqual
      Array(("1", 70.0))
  }

  test("0-arg time scalars evaluate the step timestamp on the grid") {
    val c = ctx(3000, 3000, 1000)
    PromPlanner.queryRange(c, "hour()").select("value").as[Double].collect() shouldEqual Array(0.0)
    PromPlanner.queryRange(c, "month()").select("value").as[Double].collect() shouldEqual Array(1.0)
    PromPlanner.queryRange(c, "day_of_year()").select("value").as[Double].collect() shouldEqual Array(1.0)
    // composes as a scalar operand
    PromPlanner.queryRange(c, "sum_over_time(purchase[3s]) + month() * 10")
      .select(col("labels")("user"), col("value")).as[(String, Double)].collect()
      .sortBy(_._1) shouldEqual Array(("1", 80.0), ("2", 15.0))
  }

  test("@ end() pins evaluation and replicates across the grid") {
    val out = PromPlanner.queryRange(ctx(1000, 3000, 1000),
      """sum_over_time(purchase{user="1"}[3s] @ end())""")
      .select("step_ts", "value").as[(Long, Double)].collect().sorted
    out shouldEqual Array((1000L, 70.0), (2000L, 70.0), (3000L, 70.0))
  }

  test("top-level subquery returns the inner matrix on the subquery grid") {
    val out = PromPlanner.queryRange(ctx(3000, 3000, 1000), "sum_over_time(purchase[1s])[3s:1s]")
      .select(col("labels")("user"), col("step_ts"), col("value"))
      .as[(String, Long, Double)].collect().sortBy(t => (t._1, t._2))
    out shouldEqual Array(
      ("1", 1000L, 10.0), ("1", 2000L, 20.0), ("1", 3000L, 40.0), ("2", 2000L, 5.0))
  }

  test("@ on a subquery pins the outer evaluation") {
    val out = PromPlanner.queryRange(ctx(1000, 3000, 1000),
      """max_over_time(sum_over_time(purchase{user="1"}[1s])[3s:1s] @ end())""")
      .select("step_ts", "value").as[(Long, Double)].collect().sorted
    // pinned at 3000: inner sums 10,20,40 -> max 40, replicated on the grid
    out shouldEqual Array((1000L, 40.0), (2000L, 40.0), (3000L, 40.0))
  }

  test("subquery: max_over_time of an inner rate series") {
    val c = ctx(3000, 3000, 1000)
    val out = PromPlanner.queryRange(c, "max_over_time(sum_over_time(purchase[1s])[3s:1s])")
      .select(col("labels")("user"), col("value")).as[(String, Double)].collect().sortBy(_._1)
    // inner per-1s sums for user1: 10,20,40 -> max 40; user2: 5 -> 5
    out shouldEqual Array(("1", 40.0), ("2", 5.0))
  }

  test("histogram_quantile/fraction/bucket over bucket series from a PromQL string") {
    val samples = Seq(
      ("lat_bucket", Map("le" -> "1.0"), 1000L, 5.0),
      ("lat_bucket", Map("le" -> "2.0"), 1000L, 9.0),
      ("lat_bucket", Map("le" -> "+Inf"), 1000L, 10.0)
    ).toDF("metric", "tags", "ts", "value")
    val c = PromPlanner.Ctx(spark, samples, 1000L, 1000L, 1000L, lookbackMs = 1000L)
    // rank = 0.5*10 = 5 -> first bucket, interpolated from 0: exactly 1.0
    PromPlanner.queryRange(c, "histogram_quantile(0.5, lat_bucket)")
      .select("value").as[Double].collect() shouldEqual Array(1.0)
    // fraction in (0, 1] = 5/10
    PromPlanner.queryRange(c, "histogram_fraction(0, 1, lat_bucket)")
      .select("value").as[Double].collect() shouldEqual Array(0.5)
    PromPlanner.queryRange(c, "histogram_bucket(2, lat_bucket)")
      .select("value").as[Double].collect() shouldEqual Array(9.0)
  }

  test("group_left: many-to-one join copies labels from the one side") {
    // many side: per-(user, page) hits; one side: per-user weight
    val samples = Seq(
      ("hits", Map("user" -> "1", "page" -> "a"), 1000L, 10.0),
      ("hits", Map("user" -> "1", "page" -> "b"), 1000L, 20.0),
      ("weight", Map("user" -> "1", "tier" -> "gold"), 1000L, 2.0)
    ).toDF("metric", "tags", "ts", "value")
    val c = PromPlanner.Ctx(spark, samples, 1000L, 1000L, 1000L, lookbackMs = 1000L)
    val out = PromPlanner.queryRange(c,
      """sum_over_time(hits[1s]) * on(user) group_left(tier) sum_over_time(weight[1s])""")
      .select(col("labels")("page"), col("labels")("tier"), col("value"))
      .as[(String, String, Double)].collect().sortBy(_._1)
    out shouldEqual Array(("a", "gold", 20.0), ("b", "gold", 40.0))
  }

  test("window semantics golden cases (ported fixtures): tumbling sums drop nothing") {
    // literal ts->value fixture in the style of the reference's
    // WindowIteratorSpec: 90s of samples @10s, window=30s, step=30s
    val samples = (0 until 9).map(i => ("s", Map.empty[String, String], 100000L + i * 10000L, (i + 1).toDouble))
      .toDF("metric", "tags", "ts", "value")
    val c = PromPlanner.Ctx(spark, samples, 130000L, 190000L, 30000L)
    val out = PromPlanner.queryRange(c, "sum_over_time(s[30s])")
      .select("step_ts", "value").as[(Long, Double)].collect().sorted
    // windows (100000,130000]=v2+v3+v4, (130000,160000]=v5+v6+v7, (160000,190000]=v8+v9
    out shouldEqual Array((130000L, 9.0), (160000L, 18.0), (190000L, 17.0))
  }

  test("cold-tier routing: PromQL answers match raw-only evaluation") {
    import graft.promql.PromPlanner.ColdTier
    // raw series: ts 1000..10000 step 1000, value = i
    val raw = (1 to 10).map(i => ("m", Map("u" -> "1"), i * 1000L, i.toDouble))
      .toDF("metric", "tags", "ts", "value")
    // 5s downsample buckets of the cold half (ts <= 5000)
    val ds = Seq(("m", Map("u" -> "1"), 5000L, 1.0, 5.0, 15.0, 5.0, 3.0))
      .toDF("metric", "tags", "ts", "min", "max", "sum", "count", "avg")
    val rawCtx = PromPlanner.Ctx(spark, raw, 10000L, 10000L, 1000L)
    val routedCtx = rawCtx.copy(cold = Some(ColdTier(ds, 5000L)),
      samples = raw.filter($"ts" > 5000L)) // raw tier lost its cold half
    for (q <- Seq("sum_over_time(m[10s])", "min_over_time(m[10s])",
                  "max_over_time(m[10s])", "count_over_time(m[10s])",
                  "avg_over_time(m[10s])")) { // avg = routed sum / routed count
      val expect = PromPlanner.queryRange(rawCtx, q).select("value").as[Double].head()
      val got = PromPlanner.queryRange(routedCtx, q).select("value").as[Double].head()
      withClue(q)(got shouldEqual expect +- 1e-9)
    }
    // non-servable fn still works from the (hot-only) raw tier
    PromPlanner.queryRange(routedCtx, "last_over_time(m[5s])")
      .select("value").as[Double].head() shouldEqual 10.0 +- 1e-9
  }

  test("cold-tier routing never applies to routed metric names (m::col)") {
    import graft.promql.PromPlanner.ColdTier
    // samples table carries an extra cumulative 'aux' column for its FULL
    // range; the ds tier downsamples only the plain value series
    val hist = (1 to 10).map(i => ("m", Map.empty[String, String], i * 1000L, i.toDouble, i * 10.0))
      .toDF("metric", "tags", "ts", "value", "aux")
    val ds = Seq(("m", Map.empty[String, String], 5000L, 1.0, 5.0, 15.0, 5.0))
      .toDF("metric", "tags", "ts", "min", "max", "sum", "count")
    val c = PromPlanner.Ctx(spark, hist, 10000L, 10000L, 1000L,
      cold = Some(ColdTier(ds, 5000L)))
    // sum_over_time over the aux COLUMN must read the routed table's full
    // range (10+20+...+100 = 550), not lose the cold half to a ds-tier
    // filter that matches nothing
    PromPlanner.queryRange(c, "sum_over_time(m::aux[10s])")
      .select("value").as[Double].head() shouldEqual 550.0 +- 1e-9
  }

  test("sort and sort_desc order the result by value") {
    val c = ctx(3000, 3000, 1000)
    PromPlanner.queryRange(c, "sort_desc(sum_over_time(purchase[3s]))")
      .select(col("labels")("user")).as[String].collect() shouldEqual Array("1", "2")
    PromPlanner.queryRange(c, "sort(sum_over_time(purchase[3s]))")
      .select(col("labels")("user")).as[String].collect() shouldEqual Array("2", "1")
  }

  test("cardinality guard: ambiguous one-to-one matches error; group_left allows them") {
    val samples = Seq(
      ("a", Map("job" -> "x", "i" -> "1"), 1000L, 1.0),
      ("a", Map("job" -> "x", "i" -> "2"), 1000L, 2.0),
      ("b", Map("job" -> "x"), 1000L, 10.0)
    ).toDF("metric", "tags", "ts", "value")
    val c = PromPlanner.Ctx(spark, samples, 1000L, 1000L, 1000L, lookbackMs = 1000L)
    // two `a` series collapse onto job=x against one `b` series: one-to-one is ambiguous
    val ex = intercept[Exception] {
      PromPlanner.queryRange(c, "sum_over_time(a[1s]) / on(job) sum_over_time(b[1s])").collect()
    }
    ex.getMessage should include("group_left")
    // with group_left it's a valid many-to-one
    PromPlanner.queryRange(c,
      "sum_over_time(a[1s]) / on(job) group_left sum_over_time(b[1s])")
      .count() shouldEqual 2
  }

  test("preagg rewrite: sum by retained labels reads the pre-aggregated table") {
    import graft.promql.PromPlanner.PreaggTable
    val raw = Seq(
      ("m", Map("job" -> "a", "inst" -> "1"), 1000L, 1.0),
      ("m", Map("job" -> "a", "inst" -> "2"), 1000L, 2.0),
      ("m", Map("job" -> "b", "inst" -> "1"), 1000L, 5.0)
    ).toDF("metric", "tags", "ts", "value")
    // pre-summed across inst, retaining {job}
    val pa = Seq(
      ("m", Map("job" -> "a"), 1000L, 3.0),
      ("m", Map("job" -> "b"), 1000L, 5.0)
    ).toDF("metric", "tags", "ts", "value")
    val base = PromPlanner.Ctx(spark, raw, 1000L, 1000L, 1000L)
    val withPa = base.copy(preagg = Seq(PreaggTable(pa, Set("job"))))
    val q = """sum by (job) (sum_over_time(m[1s]))"""
    // identical answers...
    PromPlanner.queryRange(base, q).select(col("labels")("job"), col("value"))
      .as[(String, Double)].collect().sortBy(_._1) shouldEqual
      Array(("a", 3.0), ("b", 5.0))
    PromPlanner.queryRange(withPa, q).select(col("labels")("job"), col("value"))
      .as[(String, Double)].collect().sortBy(_._1) shouldEqual
      Array(("a", 3.0), ("b", 5.0))
    // ...and the preagg table is genuinely used: empty raw still answers
    val emptyRaw = base.copy(samples = raw.filter(lit(false)),
      preagg = Seq(PreaggTable(pa, Set("job"))))
    PromPlanner.queryRange(emptyRaw, q).count() shouldEqual 2
    // grouping by a dropped label does NOT rewrite (raw empty -> empty)
    PromPlanner.queryRange(emptyRaw, """sum by (inst) (sum_over_time(m[1s]))""")
      .count() shouldEqual 0
  }

  test("topk composes with the preagg rewrite (nested agg shape answers from the preagg table)") {
    import graft.promql.PromPlanner.PreaggTable
    val rawTemplate = Seq(("m", Map("job" -> "a", "inst" -> "1"), 1000L, 1.0))
      .toDF("metric", "tags", "ts", "value")
    val pa = Seq(
      ("m", Map("job" -> "a"), 1000L, 3.0),
      ("m", Map("job" -> "b"), 1000L, 5.0),
      ("m", Map("job" -> "c"), 1000L, 1.0)
    ).toDF("metric", "tags", "ts", "value")
    // raw EMPTY: a non-empty topk answer must have read the preagg table.
    // The sound shape is topk over a rewritable INNER aggregate — the r5
    // topk branch reuses the rewritten child plan instead of replanning.
    // (A direct topk(k, sum_over_time(sel)) rewrite would be UNSOUND:
    // topk returns raw-series labels, preagg series are aggregates — the
    // reference's AggLpOptimization likewise rewrites only Sum/Min/Max
    // shapes, ref query/.../lpopt/AggLpOptimization.scala:140-193.)
    val c = PromPlanner.Ctx(spark, rawTemplate.filter(lit(false)), 1000L, 1000L, 1000L,
      preagg = Seq(PreaggTable(pa, Set("job"))))
    val got = PromPlanner.queryRange(c, "topk(2, sum by (job) (sum_over_time(m[1s])))")
      .select(col("labels")("job"), col("value"))
      .as[(String, Double)].collect().sortBy(_._1)
    got shouldEqual Array(("a", 3.0), ("b", 5.0))
    val bot = PromPlanner.queryRange(c, "bottomk(1, sum by (job) (sum_over_time(m[1s])))")
      .select(col("labels")("job"), col("value")).as[(String, Double)].collect()
    bot shouldEqual Array(("c", 1.0))
  }

  test("preagg rewrite covers min/max/count/avg shapes via ds-gauge columns") {
    import graft.promql.PromPlanner.PreaggTable
    val rawTemplate = Seq(("m", Map("job" -> "a", "inst" -> "1"), 1000L, 1.0))
      .toDF("metric", "tags", "ts", "value")
    // ds-gauge preagg retaining {job}: per-bucket min/max/sum/count
    val pa = Seq(
      ("m", Map("job" -> "a"), 1000L, 1.0, 5.0, 6.0, 2.0),
      ("m", Map("job" -> "b"), 1000L, 2.0, 2.0, 2.0, 1.0)
    ).toDF("metric", "tags", "ts", "min", "max", "sum", "count")
    // raw is EMPTY: any non-empty answer must come from the preagg table
    val c = PromPlanner.Ctx(spark, rawTemplate.filter(lit(false)), 1000L, 1000L, 1000L,
      preagg = Seq(PreaggTable(pa, Set("job"))))
    def run(q: String): Array[(String, Double)] =
      PromPlanner.queryRange(c, q).select(col("labels")("job"), col("value"))
        .as[(String, Double)].collect().sortBy(_._1)
    run("min by (job) (min_over_time(m[1s]))") shouldEqual Array(("a", 1.0), ("b", 2.0))
    run("max by (job) (max_over_time(m[1s]))") shouldEqual Array(("a", 5.0), ("b", 2.0))
    run("sum by (job) (sum_over_time(m[1s]))") shouldEqual Array(("a", 6.0), ("b", 2.0))
    run("sum by (job) (count_over_time(m[1s]))") shouldEqual Array(("a", 2.0), ("b", 1.0))
    // group-level average decomposes into the sum and count shapes
    run("sum by (job) (sum_over_time(m[1s])) / sum by (job) (count_over_time(m[1s]))")
      .shouldEqual(Array(("a", 3.0), ("b", 2.0)))
    // an unrewritable shape over empty raw stays empty (no silent misuse)
    PromPlanner.queryRange(c, "avg by (job) (avg_over_time(m[1s]))").count() shouldEqual 0
  }

  test("metric:::suffix routes to the named preagg table; no_optimize disables rewrites") {
    import graft.promql.PromPlanner.PreaggTable
    val rawTemplate = Seq(("m", Map("job" -> "a"), 1000L, 99.0))
      .toDF("metric", "tags", "ts", "value")
    val pa = Seq(
      ("m", Map("job" -> "a"), 1000L, 1.0, 5.0, 6.0, 2.0),
      ("m", Map("job" -> "b"), 1000L, 2.0, 2.0, 2.0, 1.0)
    ).toDF("metric", "tags", "ts", "min", "max", "sum", "count")
    val c = PromPlanner.Ctx(spark, rawTemplate.filter(lit(false)), 1000L, 1000L, 1000L,
      preagg = Seq(PreaggTable(pa, Set("job"), suffix = Some("agg"))))
    // explicit suffix routing with column selection
    PromPlanner.queryRange(c, """sum_over_time(m:::agg::sum{job="a"}[1s])""")
      .select("value").as[Double].collect() shouldEqual Array(6.0)
    // default column for a ds-gauge table is sum
    PromPlanner.queryRange(c, "sum(sum_over_time(m:::agg[1s]))")
      .select("value").as[Double].collect() shouldEqual Array(8.0)
    intercept[Exception] {
      PromPlanner.queryRange(c, "sum_over_time(m:::nosuch[1s])").collect()
    }.getMessage should include("no preagg table")
    // no_optimize turns the automatic rewrite off -> empty raw stays empty
    PromPlanner.queryRange(c, "no_optimize(sum by (job) (sum_over_time(m[1s])))")
      .count() shouldEqual 0
    PromPlanner.queryRange(c, "sum by (job) (sum_over_time(m[1s]))")
      .count() shouldEqual 2
  }

  test("series_type dispatch picks the delta kernel per series") {
    val samples = Seq(
      ("m", Map("s" -> "cum"), 1000L, 10.0, "counter"),
      ("m", Map("s" -> "cum"), 2000L, 20.0, "counter"),
      ("m", Map("s" -> "cum"), 3000L, 40.0, "counter"),
      ("m", Map("s" -> "del"), 1000L, 10.0, "delta"),
      ("m", Map("s" -> "del"), 2000L, 10.0, "delta"),
      ("m", Map("s" -> "del"), 3000L, 20.0, "delta")
    ).toDF("metric", "tags", "ts", "value", "series_type")
    val c = PromPlanner.Ctx(spark, samples, 3000L, 3000L, 1000L)
    val out = PromPlanner.queryRange(c, "rate(m[3s])")
      .select(col("labels")("s"), col("value")).as[(String, Double)].collect().toMap
    // cumulative: extrapolated counter rate; delta: sum/window
    out("cum") shouldEqual RangeFns.extrapolated(0, 3000, 3, 1000, 10.0, 3000, 40.0,
      isCounter = true, isRate = true) +- 1e-9
    out("del") shouldEqual (40.0 / 3.0) +- 1e-9
  }

  test("or_vector replaces NaN values with the scalar default") {
    val c = ctx(3000, 3000, 1000)
    // z_score of a 1-sample window is NaN -> dropped; bool-compare makes a
    // 0/1 vector we can turn NaN-free; simplest: divide by zero makes NaN
    val out = PromPlanner.queryRange(c,
      """or_vector(sum_over_time(purchase{user="1"}[3s]) * 0 / 0, 42)""")
      .select("value").as[Double].collect()
    out shouldEqual Array(42.0)
  }

  test("runs against real events-as-samples data") {
    val samples = TsTables.eventsAsSamples(spark, "/root/testdata/sf0.001")
    val c = PromPlanner.Ctx(spark, samples,
      TsTables.EventsStartMs, TsTables.EventsEndMs, 6 * TsTables.Hour)
    val df = PromPlanner.queryRange(c, "sum(rate(purchase[6h]))")
    df.count() should be > 0L
  }

  test("range-query sort orders SERIES by first-sample value, rows time-ordered within") {
    // reference SortFunctionMapper reads rv.rows().next() — the FIRST
    // sample — as each series' sort key
    val samples = Seq(
      ("m", Map("s" -> "a"), 1000L, 5.0), ("m", Map("s" -> "a"), 2000L, 100.0),
      ("m", Map("s" -> "b"), 1000L, 10.0), ("m", Map("s" -> "b"), 2000L, 1.0)
    ).toDF("metric", "tags", "ts", "value")
    val c = PromPlanner.Ctx(spark, samples, 1000L, 2000L, 1000L, lookbackMs = 1000L)
    val asc = PromPlanner.queryRange(c, "sort(sum_over_time(m[1s]))")
      .select(col("labels")("s"), col("step_ts"), col("value"))
      .as[(String, Long, Double)].collect()
    asc shouldEqual Array(("a", 1000L, 5.0), ("a", 2000L, 100.0),
      ("b", 1000L, 10.0), ("b", 2000L, 1.0))
    val desc = PromPlanner.queryRange(c, "sort_desc(sum_over_time(m[1s]))")
      .select(col("labels")("s")).as[String].collect()
    desc shouldEqual Array("b", "b", "a", "a")
  }

  test("count_values stamps Prometheus-canonical (Go shortest-'f') value strings") {
    val samples = Seq(
      ("m", Map("i" -> "1"), 1000L, 4.0),
      ("m", Map("i" -> "2"), 1000L, 1e21),
      ("m", Map("i" -> "3"), 1000L, 1e-7),
      ("m", Map("i" -> "4"), 1000L, -0.0),
      ("m", Map("i" -> "5"), 1000L, 123.456)
    ).toDF("metric", "tags", "ts", "value")
    val c = PromPlanner.Ctx(spark, samples, 1000L, 1000L, 1000L, lookbackMs = 1000L)
    val vs = PromPlanner.queryRange(c, """count_values("v", m)""")
      .select(col("labels")("v")).as[String].collect().toSet
    vs shouldEqual Set("4", "1000000000000000000000", "0.0000001", "-0", "123.456")
  }

  test("absent over a range selector is a type error, not absent_over_time") {
    val ex = intercept[IllegalArgumentException] {
      PromPlanner.queryRange(ctx(3000, 3000, 1000), "absent(purchase[3s])")
    }
    ex.getMessage should include("absent_over_time")
  }

  test("absent over an arbitrary expression: label-free rows only at empty steps") {
    // purchase{user="1"} samples at 1000/2000/3000 — the 1s windows at
    // those steps are populated, the one ending at 4000 is not
    val out = PromPlanner.queryRange(ctx(1000, 4000, 1000),
      """absent(sum(sum_over_time(purchase{user="1"}[1s])))""")
      .select(col("step_ts"), col("value"),
        org.apache.spark.sql.functions.size(col("labels")))
      .as[(Long, Double, Int)].collect()
    out shouldEqual Array((4000L, 1.0, 0))
  }

  test("m::col selects a data column of the main table (FiloDB column selector)") {
    // hist-schema storage: value is null, cumulative sum/count columns
    // carry the histogram's sum and count series
    val hist = Seq(
      ("lat", 1000L, 100.0, 2.0), ("lat", 2000L, 250.0, 5.0), ("lat", 3000L, 400.0, 9.0))
      .toDF("metric", "ts", "sum", "count")
      .select(col("metric"), map().cast("map<string,string>").as("tags"), col("ts"),
        lit(null).cast("double").as("value"), col("sum"), col("count"),
        lit("prom_histogram").as("series_type"))
    val c = PromPlanner.Ctx(spark, hist, 3000L, 3000L, 1000L, lookbackMs = 3000L)
    // increase over the count column, window (0, 3000]: delta 9-2=7 over
    // 2000ms sampled; start-gap extrapolation is clamped at the counter
    // zero point (2000*(2/7)ms), so increase = 7 + 2 = 9 exactly
    val out = PromPlanner.queryRange(c, "increase(lat::count[3s])")
      .select("step_ts", "value").as[(Long, Double)].collect()
    out.length shouldEqual 1
    out.head._2 shouldEqual 9.0 +- 1e-9
    // instant selector on ::sum reads the sum column directly
    val last = PromPlanner.queryRange(c, "lat::sum")
      .select("value").as[Double].collect()
    last shouldEqual Array(400.0)
    // unknown column is a planning error
    val ex = intercept[IllegalArgumentException] {
      PromPlanner.queryRange(c, "lat::nope")
    }
    ex.getMessage should include("no column")
  }

  test("downsample resolution selection: coarsest tier that fits the smallest window") {
    import PromPlanner.chooseDownsampleResolution
    val res = Seq(60000L, 300000L, 3600000L) // 1m, 5m, 1h
    chooseDownsampleResolution(res, 86400000L) shouldEqual 3600000L // 1d window -> 1h tier
    chooseDownsampleResolution(res, 600000L) shouldEqual 300000L    // 10m -> 5m
    chooseDownsampleResolution(res, 300000L) shouldEqual 300000L    // exact fit
    chooseDownsampleResolution(res, 120000L) shouldEqual 60000L     // 2m -> 1m
    chooseDownsampleResolution(res, 30000L) shouldEqual 60000L      // nothing fits -> finest
    // ctx wiring picks by the query's SMALLEST window (the binding
    // constraint — every window must fill), windowless -> lookback
    val c = ctx(3000, 9000, 3000)
    val t1m = spark.range(1).toDF(); val t1h = spark.range(2).toDF()
    val tiers = Seq(60000L -> t1m, 3600000L -> t1h)
    PromPlanner.withDownsampleTiers(c, tiers, 0L,
      "sum_over_time(m[2h]) + rate(m[90m])").cold.get.ds shouldBe theSameInstanceAs(t1h)
    PromPlanner.withDownsampleTiers(c, tiers, 0L,
      "sum_over_time(m[2h]) + rate(m[30m])").cold.get.ds shouldBe theSameInstanceAs(t1m)
    PromPlanner.withDownsampleTiers(c, tiers, 0L, "m").cold.get.ds shouldBe
      theSameInstanceAs(t1m) // 5m lookback -> nothing fits -> finest
    // a WINDOWLESS selector in a mixed query still constrains the choice
    // (it reads through the 5m lookback, which a 1h tier cannot fill)
    PromPlanner.withDownsampleTiers(c, tiers, 0L,
      "sum_over_time(m[2h]) + m").cold.get.ds shouldBe theSameInstanceAs(t1m)
  }

  test("retention-parity tier selection (reference DownsampledTimeSeriesShard " +
       "policy) beside the window-fit policy") {
    import PromPlanner.{chooseDownsampleResolution, chooseDownsampleResolutionByRetention}
    val now = 1000L * 86400 * 100 // day 100
    val day = 86400000L
    // (resolution, retention): 1m kept 3d, 5m kept 30d, 1h kept 90d
    val tiers = Seq((60000L, 3 * day), (300000L, 30 * day), (3600000L, 90 * day))
    def pick(startAgoDays: Long) =
      chooseDownsampleResolutionByRetention(tiers, now - startAgoDays * day, now)
    // the FINEST tier whose retention still covers the query start — the
    // reference's indexWhere(start > now - ttl) over ascending TTLs
    pick(1) shouldEqual 60000L    // 1d ago: 1m tier still holds it
    pick(3) shouldEqual 300000L   // exactly 3d ago: 1m retention boundary excluded
    pick(10) shouldEqual 300000L  // 10d ago: 5m
    pick(40) shouldEqual 3600000L // 40d ago: only 1h remains
    pick(200) shouldEqual 3600000L // before every retention -> coarsest (ref -1 branch)
    // CONTRAST with window-fit on the same shapes: a 1d-window query
    // starting 1d ago routes 1h under window-fit (coarsest that fills the
    // window) but 1m under retention parity (fine data still exists)
    chooseDownsampleResolution(tiers.map(_._1), day) shouldEqual 3600000L
    pick(1) shouldEqual 60000L
    // ctx wiring: earliest read = start - max selector reach, so a query
    // whose WINDOW reaches past a fine tier's retention rolls to coarser
    val t5m = spark.range(1).toDF(); val t1h = spark.range(2).toDF()
    val dfTiers = Seq((300000L, 30 * day, t5m), (3600000L, 90 * day, t1h))
    val c = ctx(3000, 9000, 3000).copy(
      startMs = now - 20 * day, endMs = now, stepMs = day)
    PromPlanner.withDownsampleTiersByRetention(c, dfTiers, 0L,
      "sum_over_time(m[1h])", now).cold.get.ds shouldBe theSameInstanceAs(t5m)
    PromPlanner.withDownsampleTiersByRetention(c, dfTiers, 0L,
      "sum_over_time(m[15d])", now).cold.get.ds shouldBe theSameInstanceAs(t1h)
  }

  test("HA reach: Ni windows resolve against the step; negative offsets never " +
       "shrink backward reach and surface as forward reach") {
    import PromPlanner.{maxSelectorReachMs, maxSelectorForwardMs, resolveStepDurations}
    val lb = 300000L
    // Ni windows carry no ms value until resolved — the stitcher resolves
    // first (an unresolved [10i] would contribute only the lookback)
    val ast = resolveStepDurations(
      graft.promql.Parser.parse("sum(rate(m[10i]))"), 60000L)
    maxSelectorReachMs(ast, lb) shouldEqual 600000L
    // negative offset: backward reach clamps at >= 0 per selector...
    val neg = graft.promql.Parser.parse("m offset -10m")
    maxSelectorReachMs(neg, lb) shouldEqual 0L // max(0, 5m - 10m)
    maxSelectorForwardMs(neg) shouldEqual 600000L
    // ...and can never SHRINK a sibling selector's extension
    val mixed = graft.promql.Parser.parse("rate(m[1h]) + (n offset -10m)")
    maxSelectorReachMs(mixed, lb) shouldEqual 3600000L
    maxSelectorForwardMs(mixed) shouldEqual 600000L
    // subqueries compound on both sides
    maxSelectorForwardMs(graft.promql.Parser.parse(
      "max_over_time((m offset -5m)[30m:1m] offset -10m)")) shouldEqual 900000L
    // @-pinned reads are ABSOLUTE intervals, not per-step reach
    import PromPlanner.atReadIntervalsMs
    atReadIntervalsMs(graft.promql.Parser.parse("last_over_time(m[5m] @ 1500)"),
      lb, 0L, 9999999L) shouldEqual Seq((1200000L, 1500000L))
    atReadIntervalsMs(graft.promql.Parser.parse("m @ 1500 offset 1m"),
      lb, 0L, 0L) shouldEqual Seq((1140000L, 1440000L))
    // @start()/@end() sentinels resolve against the query range
    atReadIntervalsMs(graft.promql.Parser.parse("m @ start()"),
      lb, 7000000L, 8000000L) shouldEqual Seq((6700000L, 7000000L))
    atReadIntervalsMs(graft.promql.Parser.parse("m @ end()"),
      lb, 7000000L, 8000000L) shouldEqual Seq((7700000L, 8000000L))
    // an @-subquery spans its range plus the inner reach
    atReadIntervalsMs(graft.promql.Parser.parse(
      "max_over_time(rate(m[5m])[30m:1m] @ 3600)"),
      lb, 0L, 0L) shouldEqual Seq((3600000L - 1800000L - 300000L, 3600000L))
  }

  test("planVector resolves unresolved Ni durations at entry (pre-parsed AST path)") {
    // the documented withDownsampleTiers AST path hands planVector an AST
    // that never went through queryRange's resolveStepDurations — a [3i]
    // selector must not plan as a windowless instant selector
    val c = ctx(3000, 9000, 3000)
    val viaGuard = PromPlanner.planVector(c,
        graft.promql.Parser.parse("sum_over_time(purchase[3i])"))
      .select("step_ts", "value").as[(Long, Double)].collect().sorted
    val viaQuery = PromPlanner.queryRange(c, "sum_over_time(purchase[3i])")
      .select("step_ts", "value").as[(Long, Double)].collect().sorted
    viaGuard shouldEqual viaQuery
    viaGuard should not be empty
  }

  test("double_exponential_smoothing is an exact alias for holt_winters (Prometheus 3 rename)") {
    val c = ctx(3000, 3000, 1000)
    val viaAlias = PromPlanner.queryRange(c,
      """double_exponential_smoothing(purchase{user="1"}[3s], 0.5, 0.1)""")
      .select("step_ts", "value").as[(Long, Double)].collect()
    val viaOld = PromPlanner.queryRange(c,
      """holt_winters(purchase{user="1"}[3s], 0.5, 0.1)""")
      .select("step_ts", "value").as[(Long, Double)].collect()
    viaAlias shouldEqual viaOld
    viaAlias.length should be > 0
  }

  test("staleness tombstone vs literal NaN: a __stale marker CUTS the " +
       "instant lookback while a plain NaN sample merely skips to the " +
       "previous live value; frames without the column are untouched") {
    // series m: live 1.0@1000, tombstone@2000, live 3.0@4000
    // series n: live 5.0@1000, literal NaN@2000 (no marker flag)
    val df = Seq(
      (1L, "m", Map.empty[String, String], 1000L, 1.0, false),
      (1L, "m", Map.empty[String, String], 2000L, Double.NaN, true),
      (1L, "m", Map.empty[String, String], 4000L, 3.0, false),
      (2L, "n", Map.empty[String, String], 1000L, 5.0, false),
      (2L, "n", Map.empty[String, String], 2000L, Double.NaN, false))
      .toDF("series_id", "metric", "tags", "ts", "value", "__stale")
    def at(t: Long, q: String, src: org.apache.spark.sql.DataFrame = df) =
      PromPlanner.queryRange(PromPlanner.Ctx(spark, src, t, t, 1000L), q)
        .select("value").collect().map(_.getDouble(0)).toList
    at(1000L, "m") shouldEqual List(1.0)
    at(2000L, "m") shouldEqual Nil            // tombstoned at the marker
    at(3000L, "m") shouldEqual Nil            // ...and past it
    at(4000L, "m") shouldEqual List(3.0)      // revived by a newer live sample
    at(3000L, "n") shouldEqual List(5.0)      // literal NaN: skip, don't cut
    // a range vector never sees the marker (NaN no-data rule)
    at(3000L, "count_over_time(m[3s])") shouldEqual List(1.0)
    // absent() honors the cutoff; timestamp() too
    at(2500L, "absent(m)") shouldEqual List(1.0)
    at(2500L, "timestamp(m)") shouldEqual Nil
    at(4000L, "timestamp(m)") shouldEqual List(4.0)
    // identical frame WITHOUT the column: the marker row is a plain NaN
    val plainDf = df.drop("__stale")
    at(2000L, "m", plainDf) shouldEqual List(1.0)
    // the cut moves with the evaluation time: offset and @ shift it
    at(2000L, "m offset 1s") shouldEqual List(1.0)
    at(3000L, "m offset 1s") shouldEqual Nil
    at(5000L, "m offset 1s") shouldEqual List(3.0)
    at(1000L, "m @ 2000") shouldEqual Nil
    at(4000L, "m @ 2000") shouldEqual Nil
    // one range query cuts per step: absent from the marker until revived
    PromPlanner.queryRange(PromPlanner.Ctx(spark, df, 1000L, 5000L, 1000L), "m")
      .select("step_ts", "value").as[(Long, Double)].collect().sorted.toList shouldEqual
      List((1000L, 1.0), (4000L, 3.0), (5000L, 3.0))
  }

  test("kernel entries-array key serializes byte-identically to the JSON label key") {
    // r17 pin: periodicFrom groups on the sorted-entries ARRAY and
    // serializes __key per series AFTER the kernel; the produced string
    // must equal seriesKey(labels) for adversarial label values —
    // quotes, backslashes, unicode, empty strings, colliding sort
    // prefixes — or limitk/limit_ratio (xxhash64 of __key) and every
    // key-joined operator would silently change results.
    val rows = Seq(
      ("m1", Map("a" -> "plain", "b" -> "x")),
      ("m1", Map("a" -> "quo\"te", "b" -> "back\\slash")),
      ("m1", Map("a" -> "unié中", "b" -> "")),
      ("m1", Map("ék" -> "v", "a" -> "newline\nand\ttab")),
      ("m2", Map("zz" -> "1", "__aa" -> "2", "_ws_" -> "demo")))
    val df = rows.zipWithIndex.map { case ((m, tags), i) =>
      (m, tags, 1000L + i, 1.0 + i)
    }.toDF("metric", "tags", "ts", "value")
    val c = PromPlanner.Ctx(spark, df, 2000L, 2000L, 1000L, lookbackMs = 60000L)
    val actual = PromPlanner.queryRange(c, """{__name__=~"m1|m2"}""")
      .select(col("__key"),
        // the output labels map must round-trip to the same key too
        PromPlanner.seriesKey(col("labels")).as("__rt"))
      .collect()
    actual.length shouldEqual rows.length
    actual.foreach { r => r.getString(0) shouldEqual r.getString(1) }
    // ...and the keys must be the ones the ORIGINAL map-based path built
    // from (metric, tags) — the byte contract limitk/limit_ratio hash
    val expected = df.select(PromPlanner.seriesKey(
        map_concat(map(lit("__name__"), col("metric")), col("tags"))).as("k"))
      .collect().map(_.getString(0)).sorted
    actual.map(_.getString(0)).sorted shouldEqual expected
  }

  test("a tags map holding __name__ beside a metric fails with a named error") {
    // such a row names two series at once; the kernel's entry array must
    // refuse it as the map_concat labels path does, not keep both names
    // an RDD-backed frame, like a scan: a local Seq would be folded by
    // ConvertToLocalRelation, which evaluates the unpruned labels map
    val df = spark.sparkContext.parallelize(Seq(("m", Map("__name__" -> "other", "a" -> "1"),
      1000L, 1.0))).toDF("metric", "tags", "ts", "value")
    val c = PromPlanner.Ctx(spark, df, 60000L, 60000L, 1000L)
    for (q <- Seq("rate(m[5m])", "m")) withClue(q) {
      val ex = intercept[Exception](PromPlanner.queryRange(c, q).collect())
      Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .exists(e => Option(e.getMessage).exists(
          _.contains(graft.model.SeriesKey.NameInTagsError))) shouldEqual true
    }
  }
}
