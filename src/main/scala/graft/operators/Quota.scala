package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cardinality QUOTA enforcement at ingest — the defense against series
  * explosions that the observation operators (tsCardinalityBreakdown,
  * topkCardinality) only report on. Mirrors the reference's
  * CardinalityTracker trie semantics (core/src/main/scala/filodb.core/
  * memstore/ratelimit/CardinalityTracker.scala:14-45 + QuotaSource /
  * QuotaExceededProtocol): the shard key is a label path (e.g.
  * ws → ns → metric → series); each prefix node tracks its IMMEDIATE
  * children, and a per-node quota (explicit override or per-depth
  * default) bounds how many children may ever be created under it. A new
  * series whose creation would breach ANY prefix's quota is rejected and
  * surfaced (the QuotaReached protocol signal); existing series are never
  * evicted.
  *
  * Spark-first shape: the trie IS the maintained series index (one row
  * per known series — series-cardinality-sized, millions of rows at
  * 100 TB, never sample-scale). Enforcement is a per-depth
  * count + rank + anti-join cascade over index-sized frames: depth d
  * ranks the batch's genuinely-new children inside each parent prefix
  * (deterministic child-key order — admission is reproducible across
  * retries and partitionings, unlike arrival-order racing) and admits
  * only up to the parent's remaining headroom; children of a prefix that
  * was itself rejected at a shallower depth cascade out via anti-joins.
  * Per batch this is `depth` shuffles on index-scale data, nothing ever
  * collects to the driver. The depth-1 window has no partition columns —
  * that rank runs single-partition, safe because depth-1 children are
  * workspaces/metrics (inherently thousands, not series-scale).
  */
object Quota {

  /** Per-prefix children quotas along a shard-key path.
    *
    * @param shardKey label path, leaf last — e.g. Seq("metric", "user"):
    *                 depth-1 children are metrics, depth-2 children are
    *                 the (metric, user) series. Values resolve against the
    *                 canonical samples/index shape: "metric"/"__name__"
    *                 read the metric column, anything else reads tags(l).
    * @param defaultChildrenQuota quota on immediate children per depth
    *                 (length == shardKey.length); defaultChildrenQuota(0)
    *                 bounds root children (distinct shardKey(0) values).
    * @param overrides explicit per-prefix quotas (reference setQuota):
    *                 a prefix of length d overrides the depth-d default
    *                 for that node only. */
  case class QuotaConfig(shardKey: Seq[String], defaultChildrenQuota: Seq[Long],
                         overrides: Seq[(Seq[String], Long)] = Nil) {
    require(shardKey.nonEmpty && defaultChildrenQuota.length == shardKey.length,
      s"need one children-quota per shard-key depth: $shardKey vs $defaultChildrenQuota")
    require(defaultChildrenQuota.forall(_ > 0), "quotas must be positive")
    require(overrides.forall(o => o._1.nonEmpty && o._1.length < shardKey.length),
      "an override prefix names a PARENT node (its children get the quota), " +
        "so its length must be 1..shardKey.length-1 — a full-length prefix " +
        "names a leaf, which has no children to bound")
  }

  /** Resolve a shard-key label against either shape: a flat column of
    * that name (deduped samples: metric, user, ...), else the metric
    * column / the tags map (canonical samples + index shape). */
  private[graft] def keyExpr(df: DataFrame, label: String): Column =
    if (df.columns.contains(label)) col(label)
    else if (label == "metric" || label == "__name__") col("metric")
    else col("tags")(label)

  /** Append the shard-key tuple columns __k0..__k{L-1} to a frame. */
  private[graft] def withShardKey(df: DataFrame, cfg: QuotaConfig): DataFrame =
    cfg.shardKey.zipWithIndex.foldLeft(df) { case (acc, (l, i)) =>
      acc.withColumn(s"__k$i", keyExpr(df, l).cast("string"))
    }

  /** Project an index/samples-shaped frame to the distinct shard-key
    * tuples it contains, columns named __k0..__k{L-1}. */
  private[graft] def keyTuples(df: DataFrame, cfg: QuotaConfig): DataFrame =
    df.select(cfg.shardKey.zipWithIndex.map { case (l, i) =>
      keyExpr(df, l).cast("string").as(s"__k$i")
    }: _*).distinct()

  /** Admission decisions for a batch of candidate series against the
    * known-series index. Returns ONE row per distinct incoming shard-key
    * tuple: (__k0.., admitted, reject_depth, quota) — `reject_depth` is
    * the shallowest depth whose quota the tuple breached (null when
    * admitted; tuples already present in `existing` are admitted by
    * definition). Feed `existing` the known series (index or held state
    * rows); feed `incoming` the batch's buildSeriesIndex frame (or raw
    * samples — only (metric, tags) are read).
    *
    * Deliberately LAZY, with no internal caching: the cascade references
    * the key-tuple frames at every depth, but within the caller's single
    * materializing job Catalyst's ReuseExchange dedups the repeated
    * distinct-key subtrees — an explicit persist + materialize here was
    * measured SLOWER on the drain path (an extra job plus cache writes
    * per window, duplicating work exchange reuse already avoids). */
  def admit(existing: DataFrame, incoming: DataFrame, cfg: QuotaConfig): DataFrame =
    admitKeys(keyTuples(existing, cfg), keyTuples(incoming, cfg), cfg)

  /** [[admit]] over frames already projected by [[keyTuples]]. */
  private[graft] def admitKeys(exKeys: DataFrame, inKeys: DataFrame,
                               cfg: QuotaConfig): DataFrame = {
    val L = cfg.shardKey.length
    val kCols = (0 until L).map(i => s"__k$i")
    // genuinely-new series: quotas only gate CREATION of children
    var surviving = inKeys.join(exKeys, kCols, "left_anti")
    var rejects: Option[DataFrame] = None
    for (d <- 1 to L) {
      val pc = kCols.take(d - 1)             // parent prefix columns
      val cc = kCols(d - 1)                  // child column at this depth
      // depth L reuses the already-distinct key frames: the leaf child
      // tuple IS the full shard key, so exCh == exKeys and the batch's
      // genuinely-new leaves are exactly `surviving` (distinct, already
      // anti-joined against exKeys, only ever narrowed by the shallower
      // depths' rejections) — skipping the re-distinct + anti-join saves
      // two SERIES-SCALE shuffles at the one depth that carries full
      // cardinality; the shallower depths operate on prefix-scale frames
      val exCh = if (d == L) exKeys
                 else exKeys.select((pc :+ cc).map(col): _*).distinct()
      val newCh = if (d == L) surviving
                  else surviving.select((pc :+ cc).map(col): _*).distinct()
                    .join(exCh, pc :+ cc, "left_anti")
      val exCnt = exCh.groupBy(pc.map(col): _*).agg(count(lit(1)).as("__n_ex"))
      val win = Window.partitionBy(pc.map(col): _*).orderBy(col(cc).asc)
      // an override prefix of length d-1 names the PARENT node whose
      // children this depth admits (reference setQuota semantics)
      val ovr = cfg.overrides.filter(_._1.length == d - 1)
      val withQuota = {
        val ranked = newCh.withColumn("__rn", row_number().over(win))
        val counted =
          if (d == 1) // root has no parent columns to join on: the global
            // child count rides the plan as a 1-row broadcast instead of
            // a separate driver-side count() job per batch
            ranked.crossJoin(broadcast(
              exCh.agg(count(lit(1)).as("__n_ex"))))
          else ranked.join(exCnt, pc, "left")
            .withColumn("__n_ex", coalesce(col("__n_ex"), lit(0L)))
        if (ovr.isEmpty || pc.isEmpty)
          counted.withColumn("__q", lit(cfg.defaultChildrenQuota(d - 1)))
        else {
          val ovrDf = inKeys.sparkSession.createDataFrame(
            inKeys.sparkSession.sparkContext.parallelize(
              ovr.map(o => org.apache.spark.sql.Row.fromSeq(o._1 :+ o._2))),
            org.apache.spark.sql.types.StructType.fromDDL(
              pc.map(c => s"$c STRING").mkString(", ") + ", __oq LONG"))
          counted.join(broadcast(ovrDf), pc, "left")
            .withColumn("__q",
              coalesce(col("__oq"), lit(cfg.defaultChildrenQuota(d - 1))))
        }
      }
      val decided = withQuota
        .withColumn("__ok", col("__rn") <= greatest(col("__q") - col("__n_ex"), lit(0L)))
      val rejCh = decided.filter(!col("__ok"))
        .select((pc :+ cc).map(col) :+ col("__q").as("quota"): _*)
      val rejSeries = surviving.join(rejCh, pc :+ cc)
        .select(kCols.map(col) :+ lit(d).as("reject_depth") :+ col("quota"): _*)
      rejects = Some(rejects.map(_.unionByName(rejSeries)).getOrElse(rejSeries))
      surviving = surviving.join(rejCh, pc :+ cc, "left_anti")
    }
    inKeys
      .join(rejects.get, kCols, "left")
      .withColumn("admitted", col("reject_depth").isNull)
      .select(kCols.map(col) :+ col("admitted") :+ col("reject_depth") :+ col("quota"): _*)
  }

  /** Quota-state table: per parent prefix at every depth, the current
    * children count, the applicable quota, and remaining headroom — the
    * operational surface the reference exposes through its cardinality
    * endpoints + QuotaSource. One row per (depth, prefix) over the
    * index-sized frame. Columns: depth, prefix ("a/b"), n_children,
    * quota, headroom. */
  def quotaState(existing: DataFrame, cfg: QuotaConfig): DataFrame = {
    val L = cfg.shardKey.length
    val exKeys = keyTuples(existing, cfg)
    val perDepth = (1 to L).map { d =>
      val pc = (0 until d - 1).map(i => s"__k$i")
      val cc = s"__k${d - 1}"
      val cnt = exKeys.select((pc :+ cc).map(col): _*).distinct()
        .groupBy(pc.map(col): _*).agg(count(lit(1)).as("n_children"))
      val ovr = cfg.overrides.filter(_._1.length == d - 1)
      val withQ = ovr.foldLeft(
        cnt.withColumn("quota", lit(cfg.defaultChildrenQuota(d - 1)))) {
        case (acc, (prefix, q)) =>
          val hit = prefix.zipWithIndex
            .map { case (v, i) => col(s"__k$i") === v }.reduce(_ && _)
          acc.withColumn("quota", when(hit, lit(q)).otherwise(col("quota")))
      }
      withQ.select(lit(d).as("depth"),
        concat_ws("/", pc.map(col): _*).as("prefix"),
        col("n_children"), col("quota"),
        greatest(col("quota") - col("n_children"), lit(0L)).as("headroom"))
    }
    perDepth.reduce(_.unionByName(_))
  }
}
