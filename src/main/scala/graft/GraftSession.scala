package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory so every entry point (tests, Verify, Bench,
  * driver) gets identical, scale-conscious settings.
  *
  * Notes:
  *  - `spark.sql.shuffle.partitions` is sized to local cores (the driver
  *    contract) — on a real cluster this would be set to ~2-3x total cores
  *    or left to AQE coalescing, which is enabled here and does the right
  *    thing at 100 TB (it merges tiny post-shuffle partitions and splits
  *    skewed ones at runtime).
  *  - `spark.sql.legacy.parquet.nanosAsLong` — the driver's `events` table
  *    stores TIMESTAMP(NANOS) which Spark 4 otherwise rejects; reading it
  *    as epoch-nanos Long is exact and we normalize to epoch millis
  *    (the reference's native unit, see SURVEY.md §1.2 `ts`).
  *  - `spark.sql.codegen.cache.maxEntries` — Spark caches generated
  *    classes JVM-wide, keyed by their generated source, 100 by default.
  *    Measured with graftbench, seed 1, 4 cores, counting Spark's janino
  *    compiles: a first `promql_small` refresh (8 panels) compiles 143
  *    classes, a first `remote_write` drain 121–136. At 100 entries every
  *    refresh recompiled 126–130 of them and every other drain about 60,
  *    and HotSpot then JIT-compiled them again (4.2–5.3 of the 10.6–12
  *    CPU-seconds a refresh cost). At 250, 500 and 1000 entries a repeated
  *    refresh compiles 0–5 classes and a drain 0.
  *    A hit needs byte-identical generated code, and the plans carry the
  *    query range as literals: only a repeated query with the same range
  *    hits in full. A refresh whose window moved one step compiles the
  *    13–18 classes that hold the range and reuses the rest.
  *    1000 is about 3.7 times the ~270 classes the two served paths
  *    compile together (143 + 121–136, each measured alone); 250 held one
  *    dashboard but is below that sum, and the margin above it (other
  *    plan shapes, the dead classes moving windows leave for the LRU to
  *    age out) is not measured. It is a STATIC conf: only the first
  *    session in the JVM applies it, and [[tune]] cannot.
  */
object GraftSession {
  /** Engine version — single source for the API's buildinfo and build.sbt. */
  val Version = "0.5.0"

  def builder(master: String = "local[*]", shufflePartitions: String = "32"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      // native codegen'd functions (vector_dot) via the public extension API
      .withExtensions(graft.functions.VectorExprs.install)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // spark.sql.join.preferSortMergeJoin=false was TRIED this round
      // (guide §3.1) and measured neutral-to-negative on the suite
      // (q64 2.43->3.38 s, q99 1.38->2.24 s in back-to-back sessions):
      // the joins that matter here either broadcast already or carry
      // sorted children into downstream ops — left at the default.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      // RDD-level loops (components fixed point, BPE merge rounds)
      // shuffle primitive pairs; Kryo serializes them several times
      // faster than Java serialization (SQL/tungsten paths unaffected)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // PromQL arithmetic is IEEE-754: x/0 = +-Inf, 0/0 = NaN. Spark 4's
      // default ANSI mode raises DIVIDE_BY_ZERO instead — turn it off.
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      // generated-class cache above the served working set (see header)
      .config("spark.sql.codegen.cache.maxEntries", "1000")

  def local(cpus: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(s"local[$cpus]", math.max(cpus, 4).toString).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Apply graft settings onto an externally-created session (driver owns it).
    * Runtime confs only: the static `spark.sql.codegen.cache.maxEntries`
    * cannot be set on a live session, so such a session keeps Spark's
    * 100-entry generated-class cache unless its owner sets it at build. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark
  }
}
