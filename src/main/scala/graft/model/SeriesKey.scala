package graft.model

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Series identity, defined once (the reference's part-key bytes, SURVEY.md
  * §1.1). A series is a metric plus a tag map; its labels are the tags plus
  * `__name__` -> metric. Every module derives identity through here:
  * the name-sorted entry array (what the window kernel groups on), its
  * `to_json` (the `__key` result column and every join or ordering key on
  * a label set), the persisted 64-bit `series_id`, and the key's inverse.
  * Where a key would only de-duplicate tag maps, group on the map itself:
  * Spark folds maps that differ only in insertion order (but `distinct`,
  * `dropDuplicates` and `orderBy` still reject map columns).
  *
  * The entries sort with `sort_array`, never `array_sort`: in Spark 4.1
  * `ArraySort` is a `CodegenFallback` higher-order function that runs an
  * interpreted lambda comparator per row (41% of the sampled executor
  * stacks of a dashboard loop), while `SortArray` is generated code. The
  * entry structs are never null and map keys are unique, so ascending
  * struct order is the permutation `array_sort` gave: keys and ids keep
  * their bytes. */
object SeriesKey {

  private val EntriesType = DataType.fromDDL("array<struct<key:string,value:string>>")

  /** Raised by [[entries]] for a row whose `tags` carries `__name__` beside
    * a non-null metric: such a row names two series at once. */
  val NameInTagsError: String = "series identity: tags carry __name__ while metric is set"

  /** Sorted entries of the labels (metric, tags) stand for, built DIRECTLY
    * by concatenating entry arrays — no intermediate map_concat map is
    * materialized per row (measured 3x cheaper: 3.01 s -> 1.04 s over the
    * 5.76M-row scenario fixture, OPTIMIZATION_r17.md §8). Equal to
    * `entriesOf(map_concat(map("__name__", metric), tags))`, and fails the
    * same rows that map_concat's duplicate-key policy does. */
  def entries(metric: Column, tags: Column): Column =
    sort_array(concat(
      when(metric.isNotNull,
        when(map_contains_key(tags, "__name__"), raise_error(lit(NameInTagsError)))
          .otherwise(array(struct(lit("__name__").as("key"), metric.as("value")))))
        .otherwise(array().cast(EntriesType)),
      map_entries(tags)))

  /** Sorted entries of a label map. */
  def entriesOf(labels: Column): Column = sort_array(map_entries(labels))

  /** The JSON series key of a label map (to_json is codegen'd and measured
    * faster than hand-rolled concat_ws/split codecs). */
  def key(labels: Column): Column = keyOf(entriesOf(labels))

  /** [[key]] from a sorted entry array: equal arrays ⟺ equal keys, so a
    * kernel groups on the array and serializes once per series. */
  def keyOf(entries: Column): Column = to_json(entries)

  /** The persisted `series_id` of sinks and series indexes; data on disk
    * holds it, so its bytes must never change. */
  def id(metric: Column, tags: Column): Column = xxhash64(metric, key(tags))

  /** Label map of a JSON series key (inverse of [[key]]). */
  def labels(key: Column): Column = map_from_entries(from_json(key, EntriesType))

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Driver-side inverse of [[key]], in key order. A real JSON parse, so
    * escaped quotes, backslashes and control characters come back intact. */
  def decode(key: String): Seq[(String, String)] = {
    val out = Seq.newBuilder[(String, String)]
    mapper.readTree(key).elements().forEachRemaining { e =>
      if (e.hasNonNull("value")) out += e.get("key").asText() -> e.get("value").asText()
    }
    out.result()
  }
}
