package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gopher-style document quality / repetition signals (Rae et al. 2021,
  * "Scaling Language Models: ... Gopher", Appendix A1.1) — the standard
  * pre-training corpus filter battery. Everything except the top-n-gram
  * signal is a pure codegen'd expression (zero shuffle over a 100 TB
  * scan); the top-n-gram fraction needs one per-(doc, gram) partial count
  * + a per-doc top-1, both shuffling only (doc_id, gram, count) — never
  * the text.
  */
object Quality {

  /** Key-skew pre-flight: the k heaviest values of a prospective
    * shuffle/join key with each one's share of all rows — the check a
    * 100 TB pipeline runs BEFORE keying a shuffle on a column (a single
    * hot key serializes the stage; the mitigation — salting, AQE skew
    * join, per-group caps — depends on seeing the offenders first).
    *
    * One partial-aggregated count per key, totals as a 1-row broadcast,
    * ranking as a distributed top-k; shares are exact integer micro
    * fractions (n * 1e6 integer-divided by total — engine-identical).
    * Output: (key STRING, n, share_micro), heaviest first, ties by key. */
  def keySkewReport(df: DataFrame, keyCol: String, k: Int = 20): DataFrame = {
    val counts = df.select(col(keyCol).cast("string").as("key"))
      .groupBy(col("key")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("__total"))
    counts.crossJoin(broadcast(total))
      .withColumn("share_micro", expr("n * 1000000 div __total"))
      .select(col("key"), col("n"), col("share_micro"))
      .orderBy(col("n").desc, col("key").asc)
      .limit(k)
  }

  /** Whitespace word count. */
  def wordCount(text: Column): Column = size(TextAnalysis.tokens(text))

  /** Mean characters per word (non-space chars / words). */
  def meanWordLength(text: Column): Column =
    length(regexp_replace(trim(text), "\\s+", "")) / wordCount(text).cast("double")

  /** Fraction of words that are repeats of an earlier word in the doc:
    * 1 - distinct/total. High values = degenerate/templated text. */
  def duplicateWordFraction(text: Column): Column = {
    val toks = TextAnalysis.tokens(lower(text))
    lit(1.0) - size(array_distinct(toks)) / size(toks).cast("double")
  }

  /** Fraction of lines that duplicate an earlier line. Single-line docs
    * score 0 by construction. */
  def duplicateLineFraction(text: Column): Column = {
    val lines = split(text, "\n")
    lit(1.0) - size(array_distinct(lines)) / size(lines).cast("double")
  }

  /** Gopher symbol-to-word ratio: occurrences of '#' or ellipsis
    * ("..." / U+2026) per word. */
  def symbolToWordRatio(text: Column): Column =
    (size(regexp_extract_all(text, lit("#|\\.\\.\\.|…"), lit(0))).cast("double")) /
      wordCount(text).cast("double")

  /** Fraction of words with at least one alphabetic character. */
  def alphaWordFraction(text: Column): Column = {
    val toks = TextAnalysis.tokens(text)
    size(filter(toks, t => t.rlike("[A-Za-z]"))) / size(toks).cast("double")
  }

  /** Fraction of lines starting like a bullet / ending in an ellipsis. */
  def bulletLineFraction(text: Column): Column = {
    val lines = split(text, "\n")
    size(filter(lines, l => trim(l).rlike("^[-*•]"))) / size(lines).cast("double")
  }
  def ellipsisLineFraction(text: Column): Column = {
    val lines = split(text, "\n")
    size(filter(lines, l => trim(l).rlike("(\\.\\.\\.|…)$"))) / size(lines).cast("double")
  }

  /** Fraction of non-space characters covered by the single most frequent
    * word n-gram (ties broken by larger gram string — mirrored in the
    * oracle). The Gopher "top n-gram character fraction" repetition
    * signal. One row per doc: (idCol, topgram, top_ngram_frac).
    *
    * HASH-FIRST counting: the per-(doc, gram) count shuffle carries only
    * (doc_id, nsc, xxhash64(gram)) fixed-width longs — at corpus scale the
    * n-word gram STRINGS per token position would dominate the shuffle
    * payload. The winning gram's text is resolved afterwards in one
    * narrow per-doc pass (re-derive grams map-side, keep those whose hash
    * is a winner), where the original larger-gram-string tiebreak applies
    * to just the few count-tied winners. 64-bit hashing makes a
    * within-doc gram collision vanishingly unlikely (~2^-64 per pair). */
  def topNgramCharFraction(docs: DataFrame, n: Int, textCol: String = "text",
                           idCol: String = "doc_id"): DataFrame = {
    // tokens are STAGED as a projection before the gram lambda — inlining
    // the split inside transform/slice makes Catalyst re-run the regex
    // split per array element (O(words^2) per doc; same pitfall as
    // winnowing, see TextAnalysis.winnowingFingerprints)
    val base = docs.select(
      col(idCol),
      length(regexp_replace(trim(col(textCol)), "\\s+", "")).as("__nsc"),
      TextAnalysis.tokens(lower(col(textCol))).as("__toks"))
    val counted = base
      .select(col(idCol), col("__nsc"),
        explode(wordGramsFromToks(col("__toks"), n)).as("__g"))
      .select(col(idCol), col("__nsc"), xxhash64(col("__g")).as("__h"))
      .groupBy(col(idCol), col("__nsc"), col("__h"))
      .agg(count(lit(1)).as("cnt"))
    // top count per doc + the (usually one) winner hashes at that count —
    // window max reuses the count shuffle's partitioning, no extra join
    val winners = counted
      .withColumn("__mx", max(col("cnt")).over(Window.partitionBy(col(idCol))))
      .where(col("cnt") === col("__mx"))
      .groupBy(col(idCol))
      .agg(max(col("cnt")).as("cnt"), collect_list(col("__h")).as("__whs"))
    base.join(winners, Seq(idCol))
      .withColumn("topgram",
        array_max(filter(wordGramsFromToks(col("__toks"), n),
          g => array_contains(col("__whs"), xxhash64(g)))))
      .select(col(idCol), col("topgram"),
        round(col("cnt") * length(regexp_replace(col("topgram"), " ", "")) /
          col("__nsc").cast("double"), 6).as("top_ngram_frac"))
  }

  /** Word n-grams (space-joined, overlapping) from an already-projected
    * token array column. */
  def wordGramsFromToks(toks: Column, n: Int): Column =
    transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(n))))

  /** Unigram self-perplexity: mean negative log-likelihood of each doc's
    * tokens under the unigram distribution of the corpus itself — the
    * CCNet-style LM quality signal with the corpus as its own language
    * model (no external model exists in this container; the plumbing and
    * the signal's shape are identical with a real LM's vocabulary table).
    * Outlier docs (rare-token soup) score high, template-y docs low.
    *
    * Scale shape: the term-frequency table is built by ONE hash-first
    * count (the per-token shuffle carries (doc_id, xxhash64(token))
    * longs, never token strings) and joined back on the same hash; the
    * per-doc aggregation reuses that shuffle's key space. mean_nll =
    * ln(N) - mean(ln tf) — tf >= 1 for every scored token by
    * construction, so no smoothing term is needed.
    * Output: (idCol, n_tokens, mean_nll). */
  def unigramLogLoss(docs: DataFrame, textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    val toks = docs
      .select(col(idCol), explode(TextAnalysis.tokens(lower(col(textCol)))).as("__t"))
      .select(col(idCol), xxhash64(col("__t")).as("__h"))
    val tf = toks.groupBy(col("__h")).agg(count(lit(1)).as("__tf"))
    val n = tf.agg(sum(col("__tf")).as("__n"))
    toks.join(tf, "__h")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), avg(log(col("__tf"))).as("__mlt"))
      .crossJoin(broadcast(n))
      .select(col(idCol), col("n_tokens"),
        round(log(col("__n")) - col("__mlt"), 6).as("mean_nll"))
  }

  /** Bigram-LM self-perplexity (the CCNet/Wenzek et al. 2020 quality
    * signal one order up from [[unigramLogLoss]]): score each document by
    * the mean negative log-likelihood of its token transitions under an
    * add-k-smoothed bigram model trained on the corpus itself,
    * p(b|a) = (C(ab)+k) / (C(a)+k·V).
    *
    * Scale shape: bigrams are built MAP-SIDE as one zip_with over the
    * token array (no positional self-join); the per-bigram stream then
    * shuffles (doc_id, xxhash64(prefix), xxhash64(suffix)) fixed-width
    * longs only. EVERYTHING model-side derives from the single C(ab)
    * aggregation: C(a) by re-aggregating the vocabulary-bounded count
    * table, and V as the distinct tokens PARTICIPATING IN TRANSITIONS
    * (first or second position) — so the corpus is scanned exactly twice
    * (the transition stream for counting and for scoring; identical
    * exchange subtrees reuse), never once more for a vocab pass.
    * Tokens of 1-token docs are outside V by that definition, consistent
    * with those docs being unscoreable. The count tables pre-join so the
    * big stream is joined ONCE; V rides in as a 1-row broadcast. Docs
    * with <2 tokens have no transitions and drop out — same inner-join
    * semantics in the oracle.
    * Output: (idCol, n_bigrams, mean_nll). */
  def bigramLogLoss(docs: DataFrame, k: Double = 0.5, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    // arrays_zip, NOT zip_with: a lambda's NamedLambdaVariable ids defeat
    // plan canonicalization, so the counting and scoring subtrees would
    // never hash-equal and ReuseExchange could not collapse their scans
    val staged = docs.select(col(idCol),
      TextAnalysis.tokens(lower(col(textCol))).as("__toks"))
    val n = size(col("__toks"))
    val pairs = staged.select(col(idCol),
        explode(arrays_zip(
          slice(col("__toks"), lit(1), greatest(n - 1, lit(0))).as("__pre"),
          slice(col("__toks"), lit(2), greatest(n - 1, lit(0))).as("__suf"))).as("__p"))
      .select(col(idCol),
        xxhash64(col("__p.__pre")).as("__ha"), xxhash64(col("__p.__suf")).as("__hs"))
    // materialize the count table (vocabulary-bounded — tiny next to the
    // corpus): Spark re-derives a DataFrame subtree per REFERENCE, and
    // exchange reuse does not reliably collapse the three model-side
    // consumers (prefix sums, vocab, scoring join) — without this the
    // corpus is scanned and tokenized 4x instead of 2x
    val cab = pairs.groupBy(col("__ha"), col("__hs")).agg(count(lit(1)).as("__cab"))
      .localCheckpoint()
    val ca = cab.groupBy(col("__ha")).agg(sum(col("__cab")).as("__ca"))
    val counts = cab.join(ca, "__ha")
    val v = cab.select(explode(array(col("__ha"), col("__hs"))).as("__t"))
      .agg(count_distinct(col("__t")).cast("double").as("__v"))
    pairs.join(counts, Seq("__ha", "__hs"))
      .crossJoin(broadcast(v))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(col("__ca") + lit(k) * col("__v")) - log(col("__cab") + lit(k))), 6)
          .as("mean_nll"))
  }

  /** C4-style page filters (Raffel et al. 2020, "Exploring the Limits of
    * Transfer Learning...", §2.2 — the C4 cleaning heuristics): terminal-
    * punctuation line fraction, short-line (<5 words) fraction, sentence
    * count, lorem-ipsum / curly-brace / policy-boilerplate markers, and
    * the combined keep verdict. Pure codegen'd expressions — zero shuffle
    * over a corpus scan; mirrored in full by the DuckDB oracle. */
  def c4Signals(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                minSentences: Int = 3): DataFrame = {
    val t = col(textCol)
    val lt = lower(t)
    val lines = split(t, "\n")
    val nLines = size(lines).cast("double")
    val termFrac = size(filter(lines, l => trim(l).rlike("[.!?]$"))) / nLines
    val shortFrac = size(filter(lines, l => size(split(trim(l), "\\s+")) < 5)) / nLines
    val nSentences = size(regexp_extract_all(t, lit("[.!?]"), lit(0)))
    val hasLorem = lt.contains("lorem ipsum")
    val hasBrace = t.contains("{")
    val hasPolicy = lt.contains("privacy policy") || lt.contains("terms of use") ||
      lt.contains("cookie policy")
    docs.select(
      col(idCol),
      size(lines).as("n_lines"),
      round(termFrac, 6).as("term_punct_line_frac"),
      round(shortFrac, 6).as("short_line_frac"),
      nSentences.as("n_sentences"),
      hasLorem.as("has_lorem"),
      hasBrace.as("has_brace"),
      hasPolicy.as("has_policy"),
      (!hasLorem && !hasBrace && !hasPolicy && nSentences >= minSentences).as("c4_pass"))
  }

  /** The assembled Gopher filter: per-doc signals plus a pass/fail verdict
    * under the published thresholds (adapted: word-count bounds scaled to
    * the corpus under test via minWords/maxWords).
    *
    * Two corpus passes total: BOTH top-n-gram counts (n = 2 and 3) share
    * one exploded (doc, n, gram-hash) count + one (doc, n)-windowed
    * winner pick, and every text-derived signal is computed on the same
    * rebuild pass that resolves the winning gram strings. (The naive
    * composition — a signals scan plus two independent topNgram calls —
    * measured FIVE corpus scans and two gram shuffles.) Values are
    * bit-identical to per-n [[topNgramCharFraction]] calls: same counts,
    * same count-then-larger-gram tiebreak, per n independently. */
  def gopherSignals(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                    minWords: Int = 50, maxWords: Int = 100000,
                    passThrough: Seq[String] = Nil): DataFrame = {
    // passThrough: caller columns carried onto the OUTPUT rows (evaluated
    // on the rebuild pass, pruned from the gram-count subtree). Callers
    // that joined this frame back to `docs` on idCol paid a corpus-scale
    // shuffle join plus an extra corpus scan for columns the rebuild pass
    // already holds (r17: q117/q118/q139 all had that shape); the inner
    // semantics are unchanged — output rows are still exactly the docs
    // with at least one word gram.
    require(passThrough.forall(docs.columns.contains),
      s"passThrough columns must exist on docs: $passThrough vs ${docs.columns.toSeq}")
    // a passThrough name that one of the frames below also uses (or that
    // is listed twice) would come out twice or resolve ambiguously: each
    // frame that adds columns is checked before anything reads from it
    def distinctNames(df: DataFrame): DataFrame = {
      val dup = df.columns.diff(df.columns.distinct).distinct
      require(dup.isEmpty,
        s"passThrough columns would duplicate gopherSignals columns: ${dup.mkString(", ")}")
      df
    }
    val pt = passThrough.filterNot(_ == idCol).map(col)
    val ns = Seq(2, 3)
    // base is consumed twice (the gram-count subtree and the final
    // signals join). A localCheckpoint here measured NET NEGATIVE
    // (r17: q100 1.82 s -> 2.34 s, q139 3.18 s -> 3.82 s like-for-like):
    // materializing (id, text, nsc, tokens) — ~2x the corpus bytes —
    // costs more than re-running the scan + tokenize, because the
    // second derivation is pure map-side CPU with no shuffle to save.
    // Compositions that DO have an expensive upstream (q118's Gopher
    // gate join) get their single-derivation barrier downstream in
    // removeDuplicateSpans instead, where one is already needed.
    val base = distinctNames(docs.select(Seq(
      col(idCol), col(textCol).as("__text"),
      length(regexp_replace(trim(col(textCol)), "\\s+", "")).as("__nsc"),
      TextAnalysis.tokens(lower(col(textCol))).as("__ltoks")) ++ pt: _*))
    val counted = base
      .select(col(idCol), col("__nsc"),
        explode(flatten(array(ns.map(n =>
          transform(wordGramsFromToks(col("__ltoks"), n),
            g => struct(lit(n).as("n"), xxhash64(g).as("h")))): _*))).as("__g"))
      .select(col(idCol), col("__nsc"), col("__g.n").as("__n"), col("__g.h").as("__h"))
      .groupBy(col(idCol), col("__nsc"), col("__n"), col("__h"))
      .agg(count(lit(1)).as("cnt"))
    val winners = counted
      .withColumn("__mx",
        max(col("cnt")).over(Window.partitionBy(col(idCol), col("__n"))))
      .where(col("cnt") === col("__mx"))
      .groupBy(col(idCol), col("__n"))
      .agg(max(col("cnt")).as("cnt"), collect_list(col("__h")).as("__whs"))
      .groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("__n"),
        struct(col("cnt").as("cnt"), col("__whs").as("whs"))))).as("__wmap"))
    val t = col("__text")
    def fracFor(n: Int): Column = {
      val entry = col("__wmap")(n)
      val topg = array_max(filter(wordGramsFromToks(col("__ltoks"), n),
        g => array_contains(entry.getField("whs"), xxhash64(g))))
      round(entry.getField("cnt") * length(regexp_replace(topg, " ", "")) /
        col("__nsc").cast("double"), 6)
    }
    val signals = distinctNames(distinctNames(base.join(winners, Seq(idCol)))
      .select(Seq(
        col(idCol)) ++ pt ++ Seq(
        wordCount(t).as("word_count"),
        round(meanWordLength(t), 6).as("mean_word_len"),
        round(duplicateWordFraction(t), 6).as("dup_word_frac"),
        round(duplicateLineFraction(t), 6).as("dup_line_frac"),
        round(symbolToWordRatio(t), 6).as("symbol_ratio"),
        round(alphaWordFraction(t), 6).as("alpha_word_frac"),
        fracFor(2).as("top2_frac"),
        fracFor(3).as("top3_frac")): _*))
    distinctNames(signals.select(col("*"), (
        col("word_count").between(minWords, maxWords) &&
        col("mean_word_len").between(1.0, 10.0) &&
        col("symbol_ratio") < 0.1 &&
        col("dup_line_frac") < 0.3 &&
        col("alpha_word_frac") > 0.8 &&
        col("top2_frac") < 0.20 &&
        col("top3_frac") < 0.18).as("gopher_pass")))
  }

  /** Mean NLL under a REFERENCE unigram LM — the actual CCNet filter shape
    * (Wenzek et al. 2020 score documents by perplexity under a TRUSTED
    * domain's LM, e.g. Wikipedia, not the corpus's own; [[unigramLogLoss]]
    * is the self-LM variant). Laplace smoothing over the reference
    * vocabulary plus one OOV bucket: p(t) = (C_ref(t)+1) / (N_ref+V_ref+1),
    * so out-of-vocabulary tokens score the maximum ln(N+V+1) penalty.
    *
    * Scale shape: the reference reduces to a (xxhash64(token), count)
    * table once (hash-first — token strings never shuffle); the scored
    * stream left-joins it on the hash and re-uses that key space for the
    * per-doc rollup; (N, V) ride in as a 1-row broadcast.
    * Output: (idCol, n_tokens, mean_nll). */
  def crossLogLoss(docs: DataFrame, reference: DataFrame,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    def toks(df: DataFrame, cols: Column*) = df
      .select(cols :+ explode(TextAnalysis.tokens(lower(col(textCol)))).as("__t"): _*)
    // vocabulary-bounded; checkpointed so the stats aggregate and the
    // scoring join share one reference pass (3 scans measured without)
    val refTf = toks(reference)
      .select(xxhash64(col("__t")).as("__h"))
      .groupBy(col("__h")).agg(count(lit(1)).as("__tf"))
      .localCheckpoint(false)
    val refStats = refTf.agg((sum(col("__tf")) + count(lit(1)) + 1L).as("__nv"))
    toks(docs, col(idCol))
      .select(col(idCol), xxhash64(col("__t")).as("__h"))
      .join(refTf, Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        avg(log(coalesce(col("__tf"), lit(0L)) + lit(1L))).as("__mlt"))
      .crossJoin(broadcast(refStats))
      .select(col(idCol), col("n_tokens"),
        round(log(col("__nv")) - col("__mlt"), 6).as("mean_nll"))
  }

  /** Per-source distribution drift: Jensen–Shannon divergence (natural
    * log) between each source's unigram distribution and the REST of the
    * corpus — the corpus-governance signal for "did src7's crawl change /
    * is this feed an outlier". 0 = identical distributions, ln 2 ≈ 0.693 =
    * disjoint vocabularies.
    *
    * Scale shape: ONE (source, xxhash64(token)) count aggregation is the
    * only shuffle over corpus-sized data (fixed-width keys, map-side
    * partial counts); corpus-wide token totals re-aggregate that
    * (sources × vocab)-bounded table, per-source totals ride back as a
    * broadcast. Tokens absent from a source contribute `q·ln 2` to its
    * divergence; that whole tail telescopes to `ln2 · (1 − Σ_{t∈source}
    * q_t)`, so no source×vocab expansion is ever materialized.
    *
    * Output: (source, n_tokens, jsd) — jsd rounded to 6 dp. */
  def sourceDivergence(docs: DataFrame, textCol: String = "text",
                       srcCol: String = "source"): DataFrame = {
    // the (source, token) count table is (sources × vocab)-bounded:
    // localCheckpoint it so its four consumers (corpus totals, source
    // totals, grand total, the scoring join) don't each re-derive the
    // corpus scan (4 scans measured without it)
    val counts = docs
      .select(col(srcCol).as("source"),
        explode(TextAnalysis.tokens(lower(col(textCol)))).as("__t"))
      .select(col("source"), xxhash64(col("__t")).as("__h"))
      .groupBy(col("source"), col("__h"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(false)
    val tot = counts.groupBy(col("__h")).agg(sum(col("__c")).as("__ct"))
    val srcTot = counts.groupBy(col("source")).agg(sum(col("__c")).as("__n"))
    val grand = srcTot.agg(sum(col("__n")).as("__g"))
    val p = col("__c") / col("__n").cast("double")
    val q = (col("__ct") - col("__c")) / (col("__g") - col("__n")).cast("double")
    val inRow = p * log(lit(2.0) * p / (p + q)) +
      when(q > 0, q * log(lit(2.0) * q / (p + q))).otherwise(lit(0.0))
    counts.join(tot, "__h")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(grand))
      .groupBy(col("source"), col("__n"))
      .agg(sum(inRow).as("__srow"), sum(q).as("__qcov"))
      .select(col("source"), col("__n").as("n_tokens"),
        round(lit(0.5) * col("__srow") +
          lit(0.5 * math.log(2.0)) * (lit(1.0) - col("__qcov")), 6).as("jsd"))
  }
}
