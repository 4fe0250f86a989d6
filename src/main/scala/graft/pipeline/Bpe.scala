package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING and application (Sennrich et al.
  * 2016, "Neural Machine Translation of Rare Words with Subword Units") —
  * the layer above `TextAnalysis.buildVocab` a real training-data stack
  * needs: corpora are tokenized with a LEARNED subword vocabulary, and the
  * learning pass is itself a corpus-scale job.
  *
  * Scale shape (the published algorithm's own structure): BPE trains on
  * the WORD-FREQUENCY table, not the corpus — one corpus pass builds
  * (word, n), whose size is vocabulary-bounded (~millions of rows at 100
  * TB, invariant in corpus size after that). Each merge round is then two
  * jobs over that small table: an adjacent-pair count (one shuffle of
  * (pair, weight) rows) and a best-pair lookup (the only driver action —
  * ONE row per round, like Components' fixed-point signature). The merge
  * rewrite is a map-side higher-order `aggregate` fold, no shuffle.
  * Each round's table is a local checkpoint, so round N's lineage starts
  * at round N-1's blocks and never replays rounds 1..N-1.
  */
object Bpe {

  val EndOfWord = "</w>" // word-boundary sentinel symbol

  /** (word, n) frequency table: lowercased whitespace words. The single
    * corpus-scale pass; everything downstream is vocabulary-bounded. */
  def wordCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(TextAnalysis.tokens(lower(col(textCol)))).as("word"))
      .where(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))

  /** A word as its initial symbol sequence: characters + end marker. */
  private def initialSymbols(word: Column): Column =
    concat(split(word, ""), array(lit(EndOfWord)))

  /** Greedy left-to-right merge of adjacent (a, b) pairs in a symbol
    * array — one fold, overlap-safe ("aaa" + merge (a,a) -> ["aa","a"],
    * the published tie behavior). */
  private def mergePair(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === a && x === b,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Spark's string `asc` compares UTF8String bytes; the driver-side
    * tiebreak below must match it exactly (UTF-16 `compareTo` diverges
    * for supplementary characters), so compare UTF-8 bytes unsigned. */
  private val utf8Asc: Ordering[String] = new Ordering[String] {
    def compare(x: String, y: String): Int = {
      val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val c = (a(i) & 0xff) - (b(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      a.length - b.length
    }
  }

  /** Greedy left-to-right merge — the executor-side twin of [[mergePair]]
    * (same overlap rule: "aaa" + (a,a) -> ["aa","a"]). */
  private def applyMerge(syms: Array[String], a: String, b: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      val x = syms(i)
      if (out.nonEmpty && out.last == a && x == b) out(out.length - 1) = a + b
      else out += x
      i += 1
    }
    out.toArray
  }

  /** Learn `nMerges` merges. Returns them in rank order as
    * (rank, left, right, pairCount); ties break on (left, right) asc so
    * the learned tokenizer is deterministic across engines and runs. */
  def train(docs: DataFrame, nMerges: Int, textCol: String = "text"): Seq[(Int, String, String, Long)] =
    trainRounds(docs, nMerges, textCol)._1

  /** [[train]], plus the final round's `words` RDD (already released; its
    * lineage is what the per-round checkpoint bounds). */
  private[graft] def trainRounds(docs: DataFrame, nMerges: Int, textCol: String)
      : (Seq[(Int, String, String, Long)], org.apache.spark.rdd.RDD[(Array[String], Long)]) = {
    require(nMerges >= 1, s"nMerges must be positive: $nMerges")
    // ONE corpus-scale SQL pass builds the (initial-symbols, n) vocabulary
    // table; the merge loop then runs on its RDD. Per-round SQL jobs were
    // pure overhead on the vocabulary-bounded working set (r17 BpeProbe,
    // a probe main retired after commit d710d6d:
    // 165 ms/round — a fresh whole-stage-codegen class per round from the
    // literal-bearing fold, an AQE replan, a Catalyst plan — over a
    // 31-row vocab). The RDD round keeps the identical distributed shape:
    // adjacent-pair counts map-side-combined through one reduceByKey
    // shuffle (partitioning inherited from the vocab pass, so it scales
    // with corpus size), ONE row to the driver per round.
    val seed = wordCounts(docs, textCol)
      .select(initialSymbols(col("word")).as("syms"), col("n"))
      .rdd.map(r => (r.getSeq[String](0).toArray, r.getLong(1)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // cnt desc, then (a, b) asc in Spark's binary string order
    val bestOrd: Ordering[((String, String), Long)] =
      new Ordering[((String, String), Long)] {
        def compare(p: ((String, String), Long), q: ((String, String), Long)): Int = {
          val c = java.lang.Long.compare(q._2, p._2)
          if (c != 0) return c
          val ca = utf8Asc.compare(p._1._1, q._1._1)
          if (ca != 0) ca else utf8Asc.compare(p._1._2, q._1._2)
        }
      }
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var words = seed
    var prev: Option[org.apache.spark.rdd.RDD[(Array[String], Long)]] = None
    var rank = 0
    var done = false
    while (rank < nMerges && !done) {
      val best = words.flatMap { case (syms, n) =>
          if (syms.length < 2) Iterator.empty
          else (0 until syms.length - 1).iterator.map(i => ((syms(i), syms(i + 1)), n))
        }
        .reduceByKey(_ + _)
        .takeOrdered(1)(bestOrd)
      // the action above materialized `words` and cut its lineage; the
      // round before it is safe to drop now
      prev.foreach(_.unpersist(blocking = false))
      prev = None
      if (best.isEmpty) done = true
      else {
        val ((a, b), cnt) = best.head
        if (cnt < 2) done = true // nothing left worth merging
        else {
          merges += ((rank, a, b, cnt))
          val next = words.map { case (syms, n) => (applyMerge(syms, a, b), n) }
            .localCheckpoint()
          prev = Some(words)
          words = next
          rank += 1
        }
      }
    }
    prev.foreach(_.unpersist(blocking = false))
    words.unpersist(blocking = false)
    (merges.toSeq, words)
  }

  /** A small fixed merge list for oracle-checked APPLICATION queries (the
    * cross-engine mirror needs a literal list; training is checked against
    * its own golden). Any sequence is valid to apply — later merges simply
    * never fire if their symbols don't exist yet. */
  val DemoMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("e", "r"), ("i", "n"), ("th", "e"), ("a", "n"),
    ("o", "n"), ("the", EndOfWord), ("er", EndOfWord))

  /** Apply learned merges to a word column: the word's subword tokens.
    * Pure fold of codegen'd array rewrites in rank order — no shuffle, no
    * UDF; the merge list is a plan literal (broadcast-free: it ships
    * inside the serialized expressions, the reference pattern for small
    * learned state like PQ codebooks). */
  def encodeWord(word: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(initialSymbols(lower(word))) {
      case (syms, (a, b)) => mergePair(syms, a, b)
    }

  val EndOfDoc = "</d>" // document-boundary sentinel token

  /** Whole-document subword stream: every (non-empty) whitespace token
    * becomes its merge-fold subwords, flattened in order, closed by the
    * document sentinel. Pure map-side expressions — the per-token merge
    * fold rides inside one transform over the staged token array. */
  def encodeDoc(text: Column, merges: Seq[(String, String)]): Column =
    concat(
      flatten(transform(
        filter(TextAnalysis.tokens(lower(text)), w => length(w) > 0),
        w => encodeWord(w, merges))),
      array(lit(EndOfDoc)))

  /** Native-kernel twin of [[encodeDoc]] ([[graft.functions.BpeEncodeDoc]],
    * registered by GraftSession): bit-identical output (PipelineSpec
    * property), one codegen'd pass per doc instead of one interpreted
    * `aggregate` fold PER MERGE — the only shape that stays plannable and
    * fast once the merge table is a learned vocabulary (10k+ entries ship
    * as two array literals, cost independent of table size). */
  def encodeDocNative(text: Column, merges: Seq[(String, String)]): Column =
    call_function("bpe_encode_doc", text,
      lit(merges.map(_._1).toArray), lit(merges.map(_._2).toArray))

  /** The LLM pretraining data-prep step end to end: BPE-encode every doc,
    * concatenate the subword streams (document sentinels included) in a
    * deterministic order, and cut fixed `seqLen`-token training sequences
    * that CROSS document boundaries (the GPT packing convention; the last
    * sequence per bucket may run short).
    *
    * Scale shape: docs land in `nBuckets` md5-derived buckets (stable
    * across engines/topologies — the Sampling.hashPoint contract); the
    * running token offset is a window sum per bucket ordered by id, so
    * parallelism equals nBuckets — size nBuckets to the cluster width,
    * exactly like [[Sampling.packIntoShards]]. Sequence reassembly then
    * shuffles (bucket, seq_idx, pos, token) once.
    * Output: (bucket, seq_idx, n_tokens, seq_text). */
  def packSequences(docs: DataFrame, merges: Seq[(String, String)],
                    seqLen: Int, nBuckets: Int,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // native kernel when the session registers it (GraftSession does);
    // the declarative fold — bit-identical, just slower — keeps the
    // operator working on a plain SparkSession. A merge table with a
    // REPEATED pair is legal for the fold (the second application can
    // merge adjacencies created in between) but inexpressible in the
    // codec's one-rank-per-pair map (BpeCodec rejects it) — route such
    // tables to the fold instead of failing at runtime
    val encode =
      if (docs.sparkSession.catalog.functionExists("bpe_encode_doc")
          && merges.distinct.length == merges.length)
        encodeDocNative(col(textCol), merges)
      else encodeDoc(col(textCol), merges)
    val enc = docs
      .select(col(idCol), encode.as("__toks"))
      .withColumn("__bucket",
        floor(graft.pipeline.Sampling.hashPoint(col(idCol)) * nBuckets).cast("int"))
      .withColumn("__n", size(col("__toks")).cast("long"))
    val w = Window.partitionBy(col("__bucket")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val positioned = enc
      .withColumn("__off", coalesce(sum(col("__n")).over(w), lit(0L)))
      .select(col("__bucket").as("bucket"), col("__off"),
        posexplode(col("__toks")).as(Seq("__pos", "__tok")))
      .withColumn("__gpos", col("__off") + col("__pos"))
    positioned
      .groupBy(col("bucket"), floor(col("__gpos") / seqLen).cast("long").as("seq_idx"))
      .agg(count(lit(1)).as("n_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct((col("__gpos") % seqLen).as("p"), col("__tok").as("t")))),
          e => e.getField("t"))).as("seq_text"))
  }
}
