package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.promql.{LabelMatcher, Matchers, Parser, Selector}

/** Metadata queries — SURVEY.md §2.8: /api/v1/series, /labels,
  * /label/<l>/values, label + time-series cardinality. On the canonical
  * samples schema (metric, tags MAP, series_id, ts, value). All are
  * scan + distinct/approx-distinct; partition pruning on the metric/time
  * predicates keeps them cheap at scale, and HLL (`approx_count_distinct`)
  * replaces the reference's mergeable HLL sketches 1:1.
  *
  * `match[]` selector filters (reference PartKeysExec filters,
  * MetadataExecPlan.scala:334-426) reuse the PromQL parser: each match[]
  * string is a plain selector whose predicates push into the scan; several
  * match[] sets OR together, per the Prometheus API.
  */
object MetadataOps {

  /** Anchored matcher predicate on (metric, tags) — same semantics (and
    * pushdown simplifications) as the query planner's selector filters. */
  def matcherPred(m: LabelMatcher): Column = Matchers.pred(m)

  /** OR-of-selectors predicate from `match[]` strings ("true" if none). */
  def matchPred(matchExprs: Seq[String]): Column =
    matchExprs.map { s =>
      Parser.parse(s) match {
        case sel: Selector =>
          (sel.metric.map(col("metric") === _).toSeq ++ sel.matchers.map(matcherPred))
            .reduceOption(_ && _).getOrElse(lit(true))
        case other =>
          throw new IllegalArgumentException(s"match[] must be a series selector, got $other")
      }
    }.reduceOption(_ || _).getOrElse(lit(true))

  /** Distinct series (metric + full label map) in range, optionally
    * filtered by match[] selectors. MapType cannot feed a set operation,
    * but it can be a grouping key (as in [[buildSeriesIndex]]). */
  def series(samples: DataFrame, fromMs: Long, toMs: Long,
             matchExprs: Seq[String] = Nil): DataFrame =
    samples.filter(col("ts").between(fromMs, toMs))
      .filter(matchPred(matchExprs))
      .groupBy(col("metric"), col("tags")).count()
      .select(col("metric"), col("tags"))

  /** All label names present (tag keys + metric pseudo-label). */
  def labelNames(samples: DataFrame, matchExprs: Seq[String] = Nil): DataFrame =
    samples.filter(matchPred(matchExprs))
      .select(explode(map_keys(col("tags"))).as("label")).distinct()

  /** Distinct values of one label; `__name__` answers metric names (the
    * Prometheus pseudo-label — handled HERE so the HTTP API and the CLI
    * cannot drift). */
  def labelValues(samples: DataFrame, label: String,
                  matchExprs: Seq[String] = Nil): DataFrame =
    if (label == "__name__")
      samples.filter(matchPred(matchExprs))
        .select(col("metric").as("value")).distinct()
    else
      samples.filter(matchPred(matchExprs))
        .select(col("tags")(label).as("value"))
        .filter(col("value").isNotNull).distinct()

  /** Sorted label names including the `__name__` pseudo-label — the
    * driver-side list every metadata surface prints. */
  def labelNamesList(samples: DataFrame, matchExprs: Seq[String] = Nil): Seq[String] =
    "__name__" +: labelNames(samples, matchExprs)
      .collect().map(_.getString(0)).sorted.toSeq

  /** Part-key index (the Spark answer to the reference's Lucene/Tantivy
    * part-key index, core/.../memstore/PartKeyLuceneIndex.scala): ONE row
    * per series — (series_id, metric, tags, start_ts, end_ts) — built by
    * a single aggregation over the samples. Metadata queries answered
    * from this index touch series-cardinality-sized data (millions of
    * rows at 100 TB) instead of sample-scale scans; persist it with
    * [[graft.model.TsLayout.writeSeriesIndex]] and refresh per ingest
    * window. The tag map is a grouping key as-is: Spark sorts a map
    * grouping key by its keys, so maps holding the same entries in a
    * different insertion order fold into one row. */
  def buildSeriesIndex(samples: DataFrame): DataFrame =
    samples
      .groupBy(col("series_id"), col("metric"), col("tags"))
      .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"))

  /** Merge-on-read combine for APPEND-ONLY series-index deltas (the
    * streaming ingest writes one [[buildSeriesIndex]] frame per
    * microbatch): same series rows fold by widening their time bounds.
    * LSM shape — readers fold the delta directory; a periodic compaction
    * can rewrite it to one folded segment with this same function. */
  def mergeSeriesIndex(deltas: DataFrame): DataFrame =
    // a delta row is just "this series was seen at both bound timestamps":
    // exploding the bounds back to ts rows makes the fold literally
    // buildSeriesIndex again (min/max widen identically) — one grouping
    // implementation, nothing to keep in sync
    buildSeriesIndex(deltas.select(col("series_id"), col("metric"), col("tags"),
      explode(array(col("start_ts"), col("end_ts"))).as("ts")))

  /** `series` answered from the index: the range predicate becomes an
    * interval overlap on the per-series time bounds. labelNames /
    * labelValues / cardinality need no variant — they only read
    * (metric, tags) and accept the index frame as-is. */
  def seriesFromIndex(index: DataFrame, fromMs: Long, toMs: Long,
                      matchExprs: Seq[String] = Nil): DataFrame =
    index.filter(col("start_ts") <= toMs && col("end_ts") >= fromMs)
      .filter(matchPred(matchExprs))
      .select(col("metric"), col("tags"))

  /** Chunk-level metadata introspection (reference RawChunkMeta): our
    * "chunks" are the parquet files of the TsLayout partitioning, so this
    * reports one row per (metric, file) with sample count and time bounds
    * — the same shard-debugging surface, from file-level statistics. */
  def chunkMeta(samples: DataFrame): DataFrame =
    samples.groupBy(col("metric"), input_file_name().as("chunk"))
      .agg(count(lit(1)).as("num_rows"),
        min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"))

  /** Approximate distinct-value count per label (HLL). */
  def labelCardinality(samples: DataFrame, labels: Seq[String]): DataFrame = {
    val aggs = labels.map(l => approx_count_distinct(col("tags")(l)).as(l))
    samples.agg(aggs.head, aggs.tail: _*)
  }

  /** Time-series cardinality grouped by metric (active = in time range). */
  def tsCardinality(samples: DataFrame): DataFrame =
    samples.groupBy(col("metric"))
      .agg(approx_count_distinct(col("series_id")).as("card"))

  /** Hierarchical cardinality (reference TsCardinalities /
    * MetadataExecPlan.scala:579-639): group by any label path — e.g.
    * Seq("_ws_", "_ns_", "metric") for the reference's
    * workspace/namespace/metric hierarchy — with active-vs-total counts,
    * where active means "has a sample after activeAfterMs". One HLL
    * aggregation, partial-merged map-side. */
  def tsCardinalityBreakdown(samples: DataFrame, groupLabels: Seq[String],
                             activeAfterMs: Long, exact: Boolean = false): DataFrame = {
    val gcols = groupLabels.map {
      case m @ ("metric" | "__name__") => col("metric").as(m)
      case l => col("tags")(l).as(l)
    }
    // exact=true swaps the HLL for a true distinct count — used by the
    // oracle gate; the scale path stays approximate like the reference's
    // mergeable HLL sketches
    val cd: Column => Column =
      if (exact) c => count_distinct(c) else c => approx_count_distinct(c)
    samples.groupBy(gcols: _*)
      .agg(
        cd(col("series_id")).as("total"),
        cd(when(col("ts") > activeAfterMs, col("series_id"))).as("active"))
  }

  /** Top-k cardinality hotspots (reference GetTopkCardinality,
    * coordinator QueryCommands.scala:35-41 / TopkCardinalityResult): the
    * k groups with the MOST series under a label-path prefix — the "which
    * namespace is blowing up my index" operator. `prefix` fixes leading
    * levels of `groupLabels` to literal values (the reference's
    * shardKeyPrefix); `depth` keeps that many levels as the grouping.
    * Ranking is by total cardinality desc with the group path as the
    * deterministic tiebreak; `activeAfterMs` supplies the active count
    * alongside (addInactive analogue). orderBy+limit plans as a
    * distributed top-k over the already-tiny aggregate. */
  def topkCardinality(samples: DataFrame, groupLabels: Seq[String], prefix: Seq[String],
                      depth: Int, k: Int, activeAfterMs: Long,
                      exact: Boolean = false): DataFrame = {
    require(prefix.length <= groupLabels.length && depth >= 1 && depth <= groupLabels.length,
      s"prefix $prefix / depth $depth out of range for labels $groupLabels")
    val pre = groupLabels.zip(prefix).map {
      case (m @ ("metric" | "__name__"), v) => col("metric") === v
      case (l, v) => col("tags")(l) === v
    }.reduceOption(_ && _).getOrElse(lit(true))
    val grouped = tsCardinalityBreakdown(
      samples.filter(pre), groupLabels.take(depth), activeAfterMs, exact)
    val path = groupLabels.take(depth).map(col)
    grouped.orderBy(col("total").desc +: path.map(_.asc): _*).limit(k)
  }
}
