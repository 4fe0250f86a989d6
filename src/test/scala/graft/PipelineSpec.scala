package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.pipeline.{Bpe, Dedup, Similarity, TextAnalysis}

class PipelineSpec extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = GraftSession.builder("local[4]", "4").getOrCreate()
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bend today"), // near dup
    (4L, "completely different content about spark query engines and columnar storage"),
    (5L, "another unrelated document talking about machine learning data pipelines")
  ).toDF("doc_id", "text")

  test("exact dedup finds the identical pair and keeps the lowest id") {
    val g = Dedup.exactGroups(docs).filter($"n_dups" > 1).collect()
    g.length shouldEqual 1
    g.head.getAs[Long]("n_dups") shouldEqual 2
    g.head.getAs[Long]("keep_id") shouldEqual 1
    Dedup.dropExactDuplicates(docs).count() shouldEqual 4
  }

  test("minhash LSH surfaces exact and near duplicates, not unrelated docs") {
    val dups = Dedup.minHashDuplicates(docs, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    dups should contain((1L, 2L))
    dups should contain((1L, 3L))
    dups should not contain ((1L, 4L))
    dups should not contain ((4L, 5L))
  }

  test("LSH bucket cap drops degenerate buckets, leaves normal corpora alone") {
    // 40 identical docs: every band bucket holds all 40 — the quadratic
    // bucket the cap exists for
    val degenerate = (0 until 40)
      .map(i => (i.toLong, "same exact words repeated for everyone here in this corpus today yes"))
      .toDF("doc_id", "text")
    Dedup.minHashDuplicates(degenerate, threshold = 0.3, maxBucketSize = 10)
      .count() shouldEqual 0L
    Dedup.minHashDuplicates(degenerate, threshold = 0.3, maxBucketSize = 10000)
      .count() shouldEqual (40L * 39 / 2)
    // the normal fixture is untouched by the default cap
    val dups = Dedup.minHashDuplicates(docs, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    dups should contain((1L, 2L))
  }

  test("hierarchical ts-cardinality splits active vs total per group") {
    import graft.operators.MetadataOps
    val samples = Seq(
      ("m1", Map("_ws_" -> "w1"), 1L, 100L, 1.0),
      ("m1", Map("_ws_" -> "w1"), 2L, 900L, 1.0), // active (ts > 500)
      ("m2", Map("_ws_" -> "w1"), 3L, 100L, 1.0)  // total only
    ).toDF("metric", "tags", "series_id", "ts", "value")
    val out = MetadataOps.tsCardinalityBreakdown(samples, Seq("_ws_", "metric"), 500L)
      .orderBy("metric").collect()
    out.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))) shouldEqual
      Array(("w1", "m1", 2L, 1L), ("w1", "m2", 1L, 0L))
  }

  test("simhash distance: identical 0, near small, unrelated large") {
    val s = Dedup.simHash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    java.lang.Long.bitCount(s(1L) ^ s(2L)) shouldEqual 0
    java.lang.Long.bitCount(s(1L) ^ s(3L)) should be < 16
    java.lang.Long.bitCount(s(1L) ^ s(4L)) should be > 16
  }

  test("brute-force knn ranks by cosine with deterministic ties") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val knn = Similarity.bruteForceKnn(vecs.filter($"vec_id" === 0), vecs, 3)
      .collect().map(r => (r.getLong(1), r.getInt(2)))
    knn.head shouldEqual ((1L, 1)) // most similar
    knn.last._1 shouldEqual 3L     // opposite direction last
  }

  test("lsh knn returns a subset of brute-force candidates with same scoring") {
    val vecs = (0L until 50L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 31 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val res = Similarity.lshKnn(vecs.filter($"vec_id" < 3), vecs, 5, nPlanes = 2)
    res.count() should be > 0L
    res.select(max($"sim")).head.getDouble(0) should be <= 1.000001
  }

  test("ivf knn: probed clusters contain the true nearest neighbors") {
    val vecs = (0L until 200L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 31 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 3)
    val brute = Similarity.bruteForceKnn(queries, vecs, 3)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfKnn(queries, vecs, 3, nCentroids = 4, nprobe = 4)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // probing every centroid == exact: sets must match
    ivf shouldEqual brute
    // with 1 probe it's a (possibly lossy) subset, never garbage
    val ivf1 = Similarity.ivfKnn(queries, vecs, 3, nCentroids = 4, nprobe = 1)
      .select("query_id").distinct().count()
    ivf1 should be <= 3L
  }

  test("winnowing fingerprints overlap for shared content, disjoint otherwise") {
    val d = Seq(
      (1L, "one two three four five six seven eight nine ten eleven twelve"),
      (2L, "zzz one two three four five six seven eight nine ten qqq extra"), // shares a run
      (3L, "completely different words with nothing shared at all here now")
    ).toDF("doc_id", "text")
    val fp = d.select($"doc_id", TextAnalysis.winnowingFingerprints($"text").as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    (fp(1L) intersect fp(2L)) should not be empty
    (fp(1L) intersect fp(3L)) shouldBe empty
  }

  test("prefix-filtered jaccard join matches the naive quadratic join exactly") {
    val d = docs.select(col("doc_id"), lit("en").as("lang"),
      array_distinct(graft.pipeline.TextAnalysis.tokens(lower(col("text")))).as("toks"))
    // naive O(n^2) reference: every pair, exact jaccard
    val asize = org.apache.spark.sql.functions.size _
    val a = d.as("a"); val b = d.as("b")
    def naive(t: Double) = a.join(b, col("a.doc_id") < col("b.doc_id"))
      .withColumn("__i", asize(array_intersect(col("a.toks"), col("b.toks"))))
      .withColumn("jaccard", col("__i") /
        (asize(col("a.toks")) + asize(col("b.toks")) - col("__i")).cast("double"))
      .filter(col("jaccard") >= t)
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        round(col("jaccard"), 6).as("jaccard"))
    // several thresholds: prefix lengths change, result set must not
    for (t <- Seq(0.5, 0.8, 0.95)) {
      val expected = naive(t).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
      val got = Dedup.jaccardPairs(d, t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
      withClue(s"threshold $t")(got shouldEqual expected)
    }
    // block columns partition the pair space
    val blocked = Dedup.jaccardPairs(
      d.withColumn("lang", when(col("doc_id") <= 2, "en").otherwise("de")),
      0.5, blockCols = Seq("lang")).collect().map(r => (r.getLong(0), r.getLong(1)))
    blocked.foreach { case (i, j) => (i <= 2 && j <= 2 || i > 2 && j > 2) shouldBe true }
  }

  test("multimodal resize tiles bytes cyclically to exactly w*h (pure expressions)") {
    import graft.pipeline.Multimodal
    val media = Multimodal.synthesizeMedia(docs)
    val out = Multimodal.resize(media, 8, 4).collect()
    out.foreach { r =>
      val b = r.getAs[Array[Byte]]("bytes")
      b.length shouldEqual 32
      val meta = r.getAs[org.apache.spark.sql.Row]("meta")
      (meta.getInt(0), meta.getInt(1)) shouldEqual ((8, 4))
    }
    // cyclic semantics: byte i equals source byte (i % srcLen)
    val src = media.orderBy("doc_id").collect().head.getAs[Array[Byte]]("bytes")
    val dst = Multimodal.resize(media, 8, 4).orderBy("doc_id").collect().head
      .getAs[Array[Byte]]("bytes")
    dst.zipWithIndex.foreach { case (byte, i) => byte shouldEqual src(i % src.length) }
  }

  test("text analysis: tokens, quality, langid, fingerprint normalization") {
    val d = Seq((1L, "  The  quick   brown fox  "), (2L, "the quick brown fox")).toDF("doc_id", "text")
    val t = d.select($"doc_id", TextAnalysis.tokenCount($"text").as("n"),
      TextAnalysis.langId($"text").as("lang"),
      TextAnalysis.fingerprint($"text").as("fp")).collect()
    t.map(_.getInt(1)).toSeq shouldEqual Seq(4, 4)
    t.map(_.getString(2)).toSeq shouldEqual Seq(
      "en", "en") // 'the' stopword present once lowercased
    t(0).getString(3) shouldEqual t(1).getString(3) // whitespace+case normalized
  }

  test("decontamination flags corpus docs overlapping the benchmark set") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "totally unrelated words about nothing benchmarky at all"),
      (3L, "prefix gamma delta epsilon zeta suffix words here")).toDF("doc_id", "text")
    val bench = Seq((100L, "gamma delta epsilon zeta")).toDF("bench_id", "text")
    val flagged = pipeline.Decontam.flagContaminated(corpus, bench, n = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    flagged.map(_._1).toSeq shouldEqual Seq(1L, 3L)
    flagged.foreach { case (_, nGrams, nBench) =>
      nGrams shouldEqual 1L; nBench shouldEqual 1L
    }
    pipeline.Decontam.removeContaminated(corpus, bench, n = 4)
      .select("doc_id").as[Long].collect().toSeq shouldEqual Seq(2L)
  }

  test("bloom-prefiltered decontamination equals the exact path, even at high FPP") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "totally unrelated words about nothing benchmarky at all here"),
      (3L, "prefix gamma delta epsilon zeta eta theta iota suffix words")).toDF("doc_id", "text")
    val bench = Seq((100L, "gamma delta epsilon zeta eta theta iota kappa")).toDF("bench_id", "text")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val exact = norm(pipeline.Decontam.flagContaminated(corpus, bench, n = 4))
    exact.nonEmpty shouldBe true
    // fpp 0.5 floods the confirm join with Bloom false positives — the
    // exact-result contract must hold anyway
    for (fpp <- Seq(0.01, 0.5)) {
      withClue(s"fpp $fpp") {
        norm(pipeline.Decontam.flagContaminatedBloom(corpus, bench, n = 4, fpp = fpp)) shouldEqual exact
      }
    }
  }

  test("duplicate span removal keeps only the canonical first occurrence") {
    val d = Seq(
      (1L, "intro one two three four five outro"),
      (2L, "other opening one two three four five and more trailing words here"),
      (3L, "one two three four five one two three four five")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(d, w = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1)
    // canonical occurrence is doc 1's (lowest (doc_id, pos)) — untouched
    out(0) shouldEqual ((1L, "intro one two three four five outro", 0.0))
    out(1)._2 shouldEqual "other opening and more trailing words here"
    out(1)._3 shouldEqual (5.0 / 12.0 +- 1e-6)
    // every occurrence in doc 3 is non-canonical: fully removed
    out(2) shouldEqual ((3L, "", 1.0))
  }

  test("pii redaction replaces emails/ips/phones, counts from original text") {
    val d = Seq(
      (1L, "mail a.b+x@c-corp.io from 10.0.0.7 phone 555-123-4567 done"),
      (2L, "nothing sensitive here")).toDF("doc_id", "text")
    val out = d.select($"doc_id",
      TextAnalysis.piiCount($"text", TextAnalysis.EmailRe).as("e"),
      TextAnalysis.piiCount($"text", TextAnalysis.Ipv4Re).as("i"),
      TextAnalysis.piiCount($"text", TextAnalysis.PhoneRe).as("p"),
      TextAnalysis.piiRedact($"text").as("t")).orderBy($"doc_id").collect()
    (out(0).getInt(1), out(0).getInt(2), out(0).getInt(3)) shouldEqual ((1, 1, 1))
    out(0).getString(4) shouldEqual "mail <EMAIL> from <IP> phone <PHONE> done"
    out(1).getString(4) shouldEqual "nothing sensitive here"
  }

  test("duplicate span removal matches a brute-force reference on random corpora") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e")
    val w = 3
    for (_ <- 1 to 3) {
      val corpus = (0 until 12).map { i =>
        val len = 3 + rnd.nextInt(12)
        (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      // brute-force reference: all window occurrences, duplicated =
      // >=2 occurrences corpus-wide (within-doc repeats count), covered =
      // non-canonical occurrences
      val toks = corpus.map { case (id, t) => id -> t.split("\\s+").toSeq }.toMap
      val occ = scala.collection.mutable.Map[Seq[String], List[(Long, Int)]]()
      for ((id, ts) <- toks.toSeq.sortBy(_._1); p <- 0 to ts.length - w)
        occ.updateWith(ts.slice(p, p + w))(o => Some(o.getOrElse(Nil) :+ (id, p)))
      val expected = toks.map { case (id, ts) =>
        val covered = scala.collection.mutable.Set[Int]()
        for ((_, os) <- occ if os.size >= 2) {
          val canon = os.min
          for ((oid, op) <- os if oid == id && (oid, op) != canon; k <- op until op + w)
            covered += k
        }
        id -> ((ts.indices.filterNot(covered).map(ts).mkString(" "),
                covered.size.toDouble / ts.length))
      }
      val got = Dedup.removeDuplicateSpans(corpus.toDF("doc_id", "text"), w = w)
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
      got.keySet shouldEqual expected.keySet
      for ((id, (txt, frac)) <- expected) {
        got(id)._1 shouldEqual txt
        got(id)._2 shouldEqual (frac +- 1e-6)
      }
    }
  }

  test("span dedup minOccurrences raises the removal threshold") {
    val d = Seq(
      (1L, "a b c d e tail"),
      (2L, "head a b c d e")).toDF("doc_id", "text") // span occurs twice
    // threshold 3: two occurrences stay untouched
    Dedup.removeDuplicateSpans(d, w = 5, minOccurrences = 3)
      .collect().map(_.getDouble(2)).sum shouldEqual 0.0
    // default threshold 2: doc 2's occurrence is non-canonical and removed
    val def2 = Dedup.removeDuplicateSpans(d, w = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def2(1L) shouldEqual "a b c d e tail"
    def2(2L) shouldEqual "head"
  }

  test("incremental dedup drops batch rows already in the corpus and intra-batch dups") {
    val corpus = Seq((1L, "existing doc about spark"), (2L, "another existing doc")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "a genuinely new document"),
      (11L, "  Existing   doc about SPARK "), // normalized dup of corpus 1
      (12L, "a genuinely new document"),      // intra-batch dup of 10
      (13L, "second new document")).toDF("doc_id", "text")
    Dedup.dropAgainstCorpus(batch, corpus)
      .select("doc_id").as[Long].collect().sorted shouldEqual Array(10L, 13L)
  }

  test("pq knn: ADC top-k stays in the planted cluster; codes are m small ints") {
    val e = graft.queries.PipelineFixtures.embs(spark)
    val out = Similarity.pqKnn(e.filter(col("vec_id") < 3), e, k = 5, m = 4, ksub = 4)
      .collect()
    out.length shouldEqual 15
    out.foreach { r => // planted clusters are i % 3: ADC must not cross them
      (r.getAs[Int]("neighbor_id") % 3) shouldEqual (r.getAs[Int]("query_id") % 3)
    }
    val enc = Similarity.pqEncode(e, Similarity.fitPqCodebooks(e, m = 4, ksub = 4))
    enc.select(org.apache.spark.sql.functions.size(col("codes")))
      .distinct().as[Int].collect() shouldEqual Array(4)
    enc.count() shouldEqual 24
  }

  test("chunking: overlapping windows cover every token; short docs yield one chunk") {
    val d = Seq((1L, (1 to 70).map("t" + _).mkString(" ")), (2L, "a b c"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(d, chunkTokens = 32, overlapTokens = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .sortBy(c => (c._1, c._2))
    val doc1 = out.filter(_._1 == 1L)
    doc1.map(_._2).toSeq shouldEqual Seq(0, 1, 2) // starts 0, 24, 48
    doc1.map(_._4).toSeq shouldEqual Seq(32, 32, 22)
    doc1(1)._3 should startWith("t25 ")
    doc1(2)._3 should endWith(" t70") // every token covered
    out.filter(_._1 == 2L).toSeq shouldEqual Seq((2L, 0, "a b c", 3))
  }

  test("unigram log loss: rare-token docs score higher under the corpus LM") {
    val d = Seq((1L, "x x x x"), (2L, "x x x rare")).toDF("doc_id", "text")
    val out = pipeline.Quality.unigramLogLoss(d)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    out(1L)._1 shouldEqual 4
    // tf(x)=7, tf(rare)=1, N=8: doc1 = ln8 - ln7; doc2 = ln8 - (3 ln7)/4
    out(1L)._2 shouldEqual (math.log(8) - math.log(7)) +- 1e-6
    out(2L)._2 shouldEqual (math.log(8) - 3 * math.log(7) / 4) +- 1e-6
    out(2L)._2 should be > out(1L)._2
  }

  test("bigram log loss matches a hand-computed add-k model; repartition-stable") {
    val d = Seq((1L, "a b a c"), (2L, "a b"), (3L, "z")).toDF("doc_id", "text")
    val out = pipeline.Quality.bigramLogLoss(d, k = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // C(ab)=2 C(ba)=1 C(ac)=1; prefixes C(a)=3 C(b)=1; V=3 transition
    // tokens {a,b,c} — "z" only ever appears in an unscoreable 1-token doc
    def nll(cab: Long, ca: Long) =
      math.log(ca + 0.5 * 3) - math.log(cab + 0.5)
    out(1L)._1 shouldEqual 3
    out(1L)._2 shouldEqual (nll(2, 3) + nll(1, 1) + nll(1, 3)) / 3 +- 1e-6
    out(2L)._1 shouldEqual 1
    out(2L)._2 shouldEqual nll(2, 3) +- 1e-6
    // 1-token doc has no transitions -> absent
    out.contains(3L) shouldEqual false
    val again = pipeline.Quality.bigramLogLoss(d.repartition(5), k = 0.5)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    out.map { case (k2, v) => k2 -> v._2 } shouldEqual again
  }

  test("c4 filters: verdicts on planted pages") {
    val out = pipeline.Quality.c4Signals(graft.queries.PipelineFixtures.c4Docs(spark))
      .collect().map(r => r.getLong(0) -> r).toMap
    out(1100000L).getAs[Boolean]("has_policy") shouldBe true
    out(1100000L).getAs[Boolean]("c4_pass") shouldBe false
    out(1100001L).getAs[Boolean]("has_lorem") shouldBe true
    out(1100001L).getAs[Boolean]("has_brace") shouldBe true
    out(1100002L).getAs[Boolean]("c4_pass") shouldBe true
    out(1100002L).getAs[Int]("n_sentences") shouldBe 3
    out(1100003L).getAs[Int]("n_sentences") shouldBe 0
    out(1100003L).getAs[Boolean]("c4_pass") shouldBe false
  }

  test("temperature sampling upsamples small domains, deterministic under repartition") {
    val rows = (0 until 400).map(i => (i.toLong, "big")) ++
      (1000 until 1025).map(i => (i.toLong, "small"))
    val df = rows.toDF("doc_id", "source")
    // alpha=0.5: w_big=20, w_small=5, z=25 -> r_big=0.2, r_small=0.8
    val kept = pipeline.Sampling.temperatureSample(df, alpha = 0.5, targetRows = 100)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val keptBig = kept.count(_._2 == "big") / 400.0
    val keptSmall = kept.count(_._2 == "small") / 25.0
    keptSmall should be > keptBig // alpha < 1 flattens toward small domains
    keptSmall shouldEqual 0.8 +- 0.2
    keptBig shouldEqual 0.2 +- 0.1
    val again = pipeline.Sampling.temperatureSample(df.repartition(7), alpha = 0.5, targetRows = 100)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    again.toSet shouldEqual kept.toSet
  }

  test("media exact dedup groups by (kind, digest); survivors keep lowest id") {
    val media = Seq(
      (1L, "image", "same-bytes".getBytes("UTF-8")),
      (2L, "image", "same-bytes".getBytes("UTF-8")),  // dup of 1
      (3L, "audio", "same-bytes".getBytes("UTF-8")),  // same bytes, other modality
      (4L, "image", "other-bytes".getBytes("UTF-8"))
    ).toDF("doc_id", "kind", "bytes")
    val g = pipeline.Multimodal.exactDupGroups(media)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
    g.length shouldEqual 3
    g should contain(("image", 1L, 2L))   // keep_id=1, n_dups=2
    g should contain(("audio", 3L, 1L))
    pipeline.Multimodal.dropExactDuplicates(media)
      .select("doc_id").collect().map(_.getLong(0)).sorted shouldEqual Seq(1L, 3L, 4L)
  }

  test("mix sources: weighted rates, cap at 1, budget keeps nest, off-mix drops") {
    val d = Seq.tabulate(40)(i =>
      (i.toLong, Seq.fill(5)("w").mkString(" "), if (i < 20) "a" else "b")) ++
      Seq((99L, "w w", "c"))
    val df = d.toDF("doc_id", "text", "source")
    // tokens: a=100, b=100; weights a:3 b:1 -> budget 200: a target 150
    // (capped at rate 1.0 -> all 20 docs), b target 50 -> rate 0.5
    val out = pipeline.Sampling.mixSources(df, Map("a" -> 3.0, "b" -> 1.0), 200L)
      .collect()
    out.count(_.getString(1) == "a") shouldEqual 20
    val bKept = out.filter(_.getString(1) == "b")
    bKept.foreach(_.getDouble(2) shouldEqual 0.5 +- 1e-9)
    bKept.length should (be > 0 and be < 20)
    // source c not in the recipe -> absent entirely
    out.exists(_.getString(1) == "c") shouldEqual false
    // a bigger budget only ADDS docs (hash-point keeps nest)
    val more = pipeline.Sampling.mixSources(df, Map("a" -> 3.0, "b" -> 1.0), 300L)
      .collect().map(_.getLong(0)).toSet
    out.map(_.getLong(0)).toSet.subsetOf(more) shouldEqual true
    // deterministic under repartitioning
    val again = pipeline.Sampling.mixSources(df.repartition(7), Map("a" -> 3.0, "b" -> 1.0), 200L)
      .collect().map(_.getLong(0)).toSet
    again shouldEqual out.map(_.getLong(0)).toSet
  }

  test("per-group cap keeps at most N per group, deterministic under repartition") {
    val rows = (0 until 50).map(i => (i.toLong, "big", s"text $i")) ++
      (100 until 103).map(i => (i.toLong, "small", s"text $i"))
    val df = rows.toDF("doc_id", "source", "text")
    val kept = pipeline.Sampling.capPerGroup(df, maxPerGroup = 10)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    kept.count(_._2 == "big") shouldEqual 10   // capped
    kept.count(_._2 == "small") shouldEqual 3  // under cap: untouched
    // hash-point selection, not arrival-order prefix: the kept big-group
    // ids are NOT simply 0..9
    kept.filter(_._2 == "big").map(_._1).sorted should not equal (0L until 10L).toArray
    val again = pipeline.Sampling.capPerGroup(df.repartition(7), maxPerGroup = 10)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    again.toSet shouldEqual kept.toSet
  }

  test("vocabulary build: df-weighted counts, min-count floor, deterministic order") {
    val corpus = Seq(
      (1L, "alpha alpha beta gamma!"),
      (2L, "alpha beta delta"),
      (3L, "epsilon")
    ).toDF("doc_id", "text")
    val v = TextAnalysis.buildVocab(corpus, vocabSize = 3, minCount = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // alpha 3, beta 2; gamma/delta/epsilon/'!' fall under the floor;
    // vocabSize truncates after the (n desc, token asc) order
    v shouldEqual Array(("alpha", 3L), ("beta", 2L))
    val all = TextAnalysis.buildVocab(corpus, vocabSize = 10, minCount = 1)
      .collect().map(_.getString(0))
    all.take(2) shouldEqual Array("alpha", "beta")
    all should contain("!") // punctuation is its own token
  }

  // brute-force reference: same algorithm, plain Scala on the driver
  private def bruteTrain(words: Map[String, Long], nMerges: Int): Seq[(Int, String, String, Long)] = {
    var syms = words.map { case (w, n) => (w.map(_.toString).toVector :+ Bpe.EndOfWord, n) }
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var rank = 0
    while (rank < nMerges) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((s, n) <- syms; i <- 0 until s.length - 1)
        counts((s(i), s(i + 1))) = counts.getOrElse((s(i), s(i + 1)), 0L) + n
      if (counts.isEmpty || counts.values.max < 2) rank = nMerges
      else {
        val ((a, b), c) = counts.toSeq.minBy { case ((x, y), n) => (-n, x, y) }
        out += ((rank, a, b, c))
        syms = syms.map { case (s, n) =>
          val merged = s.foldLeft(Vector.empty[String]) { (acc, x) =>
            if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ (a + b)
            else acc :+ x
          }
          (merged, n)
        }
        rank += 1
      }
    }
    out.toSeq
  }

  test("bpe train matches a brute-force reference; encode applies merges in rank order") {
    val corpus = Seq(
      (1L, "low low low low low lower lower newest newest"),
      (2L, "newest newest newest newest widest widest widest"),
      (3L, "low lower newest widest")
    ).toDF("doc_id", "text")

    val wordMap = corpus.flatMap(_.getString(1).split("\\s+")).groupBy("value").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = bruteTrain(wordMap, 8)
    val learned = Bpe.train(corpus, 8)
    learned shouldEqual expected
    learned.length shouldEqual 8

    // encode applies the learned merges deterministically, in rank order
    val enc = corpus.select(col("doc_id"),
      Bpe.encodeWord(lit("lowest"), learned.map(m => (m._2, m._3))).as("toks"))
      .head.getSeq[String](1)
    enc.mkString(" ") should include("low") // learned subword survives in a NEW word
    enc.last should endWith(Bpe.EndOfWord)
    // determinism under repartitioning (the corpus pass is a groupBy;
    // round tie-breaks are total-ordered)
    Bpe.train(corpus.repartition(5), 8) shouldEqual learned
  }

  test("bpe train truncates its lineage: 240 merge rounds leave the final words " +
       "RDD two steps deep, merges still exact") {
    // 40 distinct 12-letter words over 16 letters, each twice: every
    // adjacent pair counts >= 2, so merging runs until words are whole
    var st = 1L
    val words = (0 until 40).map { _ =>
      (0 until 12).map { _ =>
        st = st * 6364136223846793005L + 1442695040888963407L
        ('a' + ((st >>> 33) % 16).toInt).toChar
      }.mkString
    }
    val corpus = words.zipWithIndex.map { case (w, i) => (i.toLong, s"$w $w") }.toDF("doc_id", "text")
    val (merges, last) = Bpe.trainRounds(corpus, 240, "text")
    merges shouldEqual bruteTrain(words.map(_ -> 2L).toMap, 240)
    merges.length should be >= 200
    def depth(r: org.apache.spark.rdd.RDD[_]): Int =
      if (r.dependencies.isEmpty) 0 else 1 + r.dependencies.map(d => depth(d.rdd)).max
    // the last round's map over the round before it, whose lineage its
    // local checkpoint cut to the checkpoint RDD (no dependencies)
    depth(last) should be <= 2
  }

  test("topk cardinality: ranks groups by series count under a label-path prefix") {
    import graft.operators.MetadataOps
    val samples = Seq(
      ("m1", Map("_ws_" -> "w1"), 1L, 900L, 1.0),
      ("m1", Map("_ws_" -> "w1"), 2L, 100L, 1.0),
      ("m1", Map("_ws_" -> "w1"), 3L, 900L, 1.0),
      ("m2", Map("_ws_" -> "w1"), 4L, 900L, 1.0),
      ("m3", Map("_ws_" -> "w2"), 5L, 900L, 1.0), // other workspace: excluded by prefix
      ("m3", Map("_ws_" -> "w2"), 6L, 900L, 1.0)
    ).toDF("metric", "tags", "series_id", "ts", "value")
    // prefix pins _ws_=w1; depth 2 groups by (_ws_, metric); m1 owns 3 series
    val top = MetadataOps.topkCardinality(samples, Seq("_ws_", "metric"),
      prefix = Seq("w1"), depth = 2, k = 1, activeAfterMs = 500L, exact = true).collect()
    top.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))) shouldEqual
      Array(("w1", "m1", 3L, 2L))
    an[IllegalArgumentException] should be thrownBy
      MetadataOps.topkCardinality(samples, Seq("metric"), Nil, depth = 2, k = 1, 0L)
  }

  test("line dedup: canonical copy survives, case/pad variants and in-doc repeats removed") {
    val pages = Seq(
      (1L, "Unique alpha line.\n\nShared Footer Here!\nMore alpha."),
      (2L, "Beta content only.\n  shared footer here!  \nBeta closing."),
      (3L, "SHARED FOOTER HERE!\nGamma words.\nEcho line.\nEcho line."),
      (4L, "Totally unique page.\n\nNothing repeated.")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateLines(pages).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    // doc 1 holds the (doc, pos)-least footer occurrence: keeps it, loses
    // only the blank line (not counted); docs 2/3 lose their copies
    out(1L)._1 shouldEqual "Unique alpha line.\nShared Footer Here!\nMore alpha."
    out(1L)._2 shouldEqual 0.0
    out(2L)._1 shouldEqual "Beta content only.\nBeta closing."
    out(2L)._2 shouldEqual math.rint(1.0 / 3.0 * 1e6) / 1e6 +- 1e-9
    // doc 3: footer removed AND the second in-doc "Echo line." removed
    out(3L)._1 shouldEqual "Gamma words.\nEcho line."
    out(3L)._2 shouldEqual 0.5
    out(4L)._1 shouldEqual "Totally unique page.\nNothing repeated."
    out(4L)._2 shouldEqual 0.0
    // repartition-stable (canonical pick is a total order, not arrival order)
    Dedup.removeDuplicateLines(pages.repartition(7)).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap shouldEqual out
  }

  test("bm25: tf raises score, rarer term outranks common at equal tf, hand-check") {
    import graft.pipeline.Search
    val corpus = Seq(
      (1L, "apple banana banana banana"),
      (2L, "apple banana cherry date"),
      (3L, "apple date date fig"),
      (4L, "grape melon kiwi lime")
    ).toDF("doc_id", "text")
    // 'banana' (df 2) vs 'fig' (df 1): doc3 matches only the rarer term
    val r = Search.bm25TopK(corpus, Seq("banana", "fig"), k = 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    r.keySet shouldEqual Set(1L, 2L, 3L)          // doc4 matches nothing
    r(1L) should be > r(2L)                        // more banana tf wins
    r(3L) should be > r(2L)                        // rare term beats common
    // hand-computed: doc2 'banana' tf=1, dl=4, avgdl=4, df=2, N=4
    val idf = math.log(1.0 + (4.0 - 2.0 + 0.5) / (2.0 + 0.5))
    val expect = idf * 1.0 * 2.2 / (1.0 + 1.2 * (0.25 + 0.75 * 4.0 / 4.0))
    r(2L) shouldEqual math.rint(expect * 1e6) / 1e6 +- 1e-9
  }

  test("ivfpq knn: neighbors stay in the query's planted cluster, adist ascends") {
    val e = graft.queries.PipelineFixtures.embs(spark)
    val out = Similarity.ivfPqKnn(e.filter($"vec_id".between(3, 5)), e, k = 4,
      nCentroids = 3, nprobe = 2, m = 4, ksub = 4).collect()
    out.length shouldEqual 12
    out.foreach { r =>
      val (q, n) = (r.getAs[Int]("query_id"), r.getAs[Int]("neighbor_id"))
      n % 3 shouldEqual q % 3 // inverted-list probe keeps the planted cluster
    }
    out.groupBy(_.getAs[Int]("query_id")).values.foreach { rows =>
      val byRank = rows.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("adist"))
      byRank shouldEqual byRank.sorted
    }
  }

  test("packSequences: exact seqLen cuts across doc boundaries, nothing lost, repartition-stable") {
    import graft.pipeline.Bpe
    val pages = Seq((1L, "aa bb cc dd"), (2L, "ee ff"), (3L, "gg hh ii"),
      (4L, "jj kk ll mm nn")).toDF("doc_id", "text")
    val out = Bpe.packSequences(pages, Bpe.DemoMerges, seqLen = 5, nBuckets = 2).collect()
    // every non-final sequence in a bucket is exactly seqLen tokens
    out.groupBy(_.getAs[Int]("bucket")).values.foreach { rows =>
      rows.sortBy(_.getAs[Long]("seq_idx")).dropRight(1)
        .foreach(_.getAs[Long]("n_tokens") shouldEqual 5L)
    }
    // no token lost or invented: totals match the per-doc encodings
    val total = out.map(_.getAs[Long]("n_tokens")).sum
    val encLens = pages.select(
        org.apache.spark.sql.functions.size(Bpe.encodeDoc(col("text"), Bpe.DemoMerges)))
      .collect().map(_.getInt(0)).sum
    total shouldEqual (encLens.toLong: java.lang.Long)
    // full-length sequences always contain word boundaries (a short tail
    // can legitimately be a lone </d> sentinel)
    out.filter(_.getAs[Long]("n_tokens") == 5L)
      .map(_.getAs[String]("seq_text")).foreach(_ should include(Bpe.EndOfWord))
    Bpe.packSequences(pages.repartition(3), Bpe.DemoMerges, 5, 2)
      .collect().toSet shouldEqual out.toSet
  }

  test("duplicateSpanReport equals brute force on random corpora; a long duplicate is ONE span") {
    import graft.pipeline.Dedup
    val w = 4
    val rnd = new scala.util.Random(42)
    val ab = Vector("aa", "bb", "cc", "dd", "ee")
    def randToks(n: Int) = Vector.fill(n)(ab(rnd.nextInt(ab.size)))
    // 20-token passage planted verbatim into docs 6 and 7 — five times w,
    // and REQUIRED to surface as one maximal span, not w-sized fragments
    val planted = randToks(20)
    val docs: Seq[(Long, Vector[String])] =
      (0L to 5L).map(i => i -> randToks(30 + rnd.nextInt(30))) ++
        Seq(6L -> (randToks(11) ++ planted ++ randToks(7)),
            7L -> (randToks(5) ++ planted ++ randToks(13)))
    val df = docs.map { case (id, ts) => (id, ts.mkString(" ")) }.toDF("doc_id", "text")
    val got = Dedup.duplicateSpanReport(df, w = w)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet

    // brute force: string grams, >=2 occurrences corpus-wide, canonical
    // (doc,pos)-least kept, coverage islands merged
    val occ = for { (id, toks) <- docs; if toks.length >= w
                    p <- 0 to toks.length - w }
      yield (toks.slice(p, p + w).mkString(" "), id, p)
    val cov = collection.mutable.Map.empty[Long, collection.mutable.SortedSet[Int]]
    occ.groupBy(_._1).values.filter(_.size >= 2).foreach { os =>
      val canon = os.map(o => (o._2, o._3)).min
      for ((_, id, p) <- os if (id, p) != canon; i <- p until p + w)
        cov.getOrElseUpdate(id, collection.mutable.SortedSet.empty[Int]) += i
    }
    val expected = cov.flatMap { case (id, ps) =>
      ps.foldLeft(List.empty[(Int, Int)]) {
        case ((s, l) :: rest, p) if s + l == p => (s, l + 1) :: rest
        case (acc, p) => (p, 1) :: acc
      }.map { case (s, l) => (id, s, l) }
    }.toSet
    got shouldEqual expected
    // the planted duplicate in doc 7 (non-canonical copy) is ONE span
    // of AT LEAST the planted length (adjacent accidental dups may extend it)
    val doc7 = got.filter(_._1 == 7L)
    doc7.exists { case (_, s, l) => s <= 5 && s + l >= 5 + planted.length } shouldBe true
  }

  test("packSequences with a REPEATED merge pair falls back to the fold (codec can't rank it)") {
    import graft.pipeline.Bpe
    val pages = Seq((1L, "aa ab aa"), (2L, "ba ab")).toDF("doc_id", "text")
    // (a,b) twice: legal for the declarative fold — the second application
    // merges adjacencies the middle merge created — but BpeCodec rejects it
    val dupMerges = Seq("a" -> "b", "ab" -> Bpe.EndOfWord, "a" -> "b")
    val out = Bpe.packSequences(pages, dupMerges, seqLen = 4, nBuckets = 1).collect()
    out should not be empty // and, above all, no runtime codec failure
    // parity with the explicit fold on the same table
    val total = out.map(_.getAs[Long]("n_tokens")).sum
    val encLens = pages.select(
        org.apache.spark.sql.functions.size(Bpe.encodeDoc(col("text"), dupMerges)))
      .collect().map(_.getInt(0)).sum
    total shouldEqual (encLens.toLong: java.lang.Long)
  }

  test("hybrid RRF: both-retriever docs outrank single-side, contributions sum exactly") {
    import graft.pipeline.Search
    // doc 1: strong BM25 + identical vector to the query (rank 1 both
    // sides); doc 2: BM25-only (orthogonal vector); doc 3: dense-only
    // (no term overlap); doc 4: matches neither ranking signal strongly
    val docs = Seq(
      (1L, "apple banana apple", Seq(1.0f, 0.0f)),
      (2L, "apple apple apple apple", Seq(0.0f, 1.0f)),
      (3L, "cherry date", Seq(0.9f, 0.1f)),
      (4L, "elderberry fig", Seq(0.0f, -1.0f)))
      .toDF("doc_id", "text", "embedding")
    val qs = Seq((7L, Seq("apple"), Seq(1.0f, 0.0f)))
      .toDF("query_id", "terms", "qvec")
    val out = Search.hybridTopK(docs, qs, k = 4, depth = 3, rrfK = 60)
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getLong(3)))
      .sortBy(_._2)
    // sparse ranks: 2 (tf 4), 1 (tf 2) — docs 3,4 unranked
    // dense ranks:  1 (sim 1), 3 (sim ~.99), 2 (sim 0) — depth 3 ranks 4 too? no: top-3 of 4 = 1,3,2
    def c(r: Int) = math.round(1e6 / (60.0 + r))
    val scores = out.map(o => o._1 -> o._3).toMap
    scores(1L) shouldEqual c(2) + c(1) // both retrievers
    scores(2L) shouldEqual c(1) + c(3) // BM25 rank 1, dense rank 3
    scores(3L) shouldEqual c(2)        // dense only
    out.head._1 shouldEqual 1L         // fusion puts the both-sides doc first
    out.map(_._1) should not contain 4L // ranked by neither side's top-3
  }

  test("hard negatives: positive excluded from ranks, ranks renumber, count holds") {
    import graft.pipeline.Search
    val corpus = Seq(
      (1L, "apple banana banana banana"),   // top doc for 'banana'
      (2L, "apple banana cherry date"),
      (3L, "banana date fig"),
      (4L, "grape melon kiwi lime")
    ).toDF("doc_id", "text")
    val qs = Seq((0L, Seq("banana"), 1L),   // positive IS the top hit
                 (1L, Seq("banana"), 4L))   // positive not ranked at all
      .toDF("query_id", "terms", "positive_doc_id")
    val out = Search.hardNegatives(corpus, qs, nNeg = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // q0: doc 1 excluded; 2 and 3 renumber to 1, 2
    out.filter(_._1 == 0L).map(x => (x._2, x._3)).sorted shouldEqual Seq((2L, 2), (3L, 1))
    // q1: nothing excluded; the plain top-2 stand (doc 3 outranks doc 2:
    // same tf, shorter document)
    out.filter(_._1 == 1L).map(x => (x._2, x._3)).sorted shouldEqual Seq((1L, 1), (3L, 2))
    out.foreach { case (_, neg, _) => neg should not equal 4L }
    // MULTIPLE positives per query fold to a set: both excluded, no score
    // double-count from duplicated terms, headroom grows to nNeg + |pos|
    val multi = Seq((0L, Seq("banana"), 1L), (0L, Seq("banana"), 3L))
      .toDF("query_id", "terms", "positive_doc_id")
    Search.hardNegatives(corpus, multi, nNeg = 2).collect()
      .map(r => (r.getLong(1), r.getInt(2))).sorted shouldEqual Seq((2L, 1))
  }

  test("multi-language id: stopword argmax, und floor, earliest-code ties") {
    import graft.pipeline.TextAnalysis
    val cases = Seq(
      (1L, "der hund ist nicht mit der katze", "de"),
      (2L, "le chat est dans la maison et vous ne savez pas", "fr"),
      (3L, "el perro es una mascota para este lugar pero no", "es"),
      (4L, "the quick brown fox is on a wall", "en"),
      (5L, "zzz qqq xyzzy", "und"),
      (6L, "des une est the and of in to", "en"), // 3 fr vs 5 en
      (7L, "und der the a xyz", "de"))            // 2-2 tie -> earliest code
    val out = cases.map(c => (c._1, c._2)).toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.langIdMulti(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.foreach { case (id, _, want) => out(id) shouldEqual want }
  }

  test("contamination-safe split quarantines train docs sharing grams with eval docs") {
    import graft.pipeline.{Decontam, Sampling}
    // find ids landing on each side of the hash split, then plant overlap
    val probe = spark.range(0, 200).toDF("doc_id")
      .withColumn("split", Sampling.hashSplit(col("doc_id"),
        Seq("train" -> 0.5, "test" -> 0.5)))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val trainIds = probe.filter(_._2 == "train").keys.toSeq.sorted
    val testIds = probe.filter(_._2 == "test").keys.toSeq.sorted
    val leak = "alpha beta gamma delta epsilon zeta eta theta"   // 8 tokens
    val docs = Seq(
      (trainIds(0), s"prefix words here $leak suffix closing words"), // leaks
      (trainIds(1), "entirely clean training document with its own words"),
      (testIds(0), s"eval question contains $leak verbatim"),
      (testIds(1), "independent eval content nothing shared")
    ).toDF("doc_id", "text")
    val out = Decontam.contaminationSafeSplit(docs,
        Seq("train" -> 0.5, "test" -> 0.5), n = 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out(trainIds(0)) shouldEqual "quarantined"
    out(trainIds(1)) shouldEqual "train"
    out(testIds(0)) shouldEqual "test"     // eval side never quarantines
    out(testIds(1)) shouldEqual "test"
  }

  test("stratified sample: quantile bins balance, rates gate keeps, repartition-stable") {
    import graft.pipeline.Sampling
    val scored = spark.range(0, 100).toDF("doc_id")
      .withColumn("score", col("doc_id").cast("double") / 10.0)
    val out = Sampling.stratifiedSampleByScore(scored, "score",
      Seq(1.0, 0.5, 0.0, 1.0)).collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getBoolean(4)))
    // ascending score = ascending id here, so bins are contiguous quartiles
    out.filter(_._2 == 1).map(_._1).sorted shouldEqual (0L until 25L)
    out.filter(_._2 == 4).map(_._1).sorted shouldEqual (75L until 100L)
    out.filter(_._2 == 1).foreach(_._3 shouldBe true)   // rate 1.0 keeps all
    out.filter(_._2 == 3).foreach(_._3 shouldBe false)  // rate 0.0 drops all
    val b2 = out.filter(_._2 == 2)
    b2.count(_._3) should (be > 5 and be < 20)          // rate 0.5, md5-decided
    Sampling.stratifiedSampleByScore(scored.repartition(7), "score",
      Seq(1.0, 0.5, 0.0, 1.0)).collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getBoolean(4))).sorted shouldEqual out.sorted
  }

  test("dsir: target-like docs outrank dissimilar ones; repartition-stable") {
    import graft.pipeline.Sampling
    val raw = Seq(
      (1L, "quantum physics entangled qubits decohere rapidly"),
      (2L, "quantum qubits physics decohere entangled states"),
      (3L, "cheap pills buy now discount offer click here"),
      (4L, "discount offer buy cheap pills now free"),
      (5L, "quantum entangled physics qubits superposition")
    ).toDF("doc_id", "text")
    val target = Seq(
      (100L, "quantum physics qubits entangled superposition decohere"),
      (101L, "entangled qubits quantum superposition physics")
    ).toDF("doc_id", "text")
    val out = Sampling.dsirSelect(raw, target, keep = 3, nBuckets = 64).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    // physics docs carry positive target-vs-raw weight; spam negative
    Set(1L, 2L, 5L).foreach { id => out(id)._2 shouldBe true }
    Set(3L, 4L).foreach { id =>
      out(id)._2 shouldBe false
      out(id)._1 should be < out(1L)._1
    }
    Sampling.dsirSelect(raw.repartition(7), target.repartition(3), 3, 64)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap shouldEqual out
  }

  test("sq8 knn: exact rerank reproduces brute-force top-k on separated clusters") {
    val e = graft.queries.PipelineFixtures.embs(spark)
    val q = e.filter($"vec_id" < 3)
    val sq = Similarity.sq8Knn(q, e, k = 4, overfetch = 4).collect()
    val bf = Similarity.bruteForceKnn(q, e, k = 4).collect()
    // with generous overfetch the quantized candidate set covers the true
    // top-k, so the reranked result equals exact brute force
    sq.map(r => (r.getAs[Int]("query_id"), r.getAs[Int]("neighbor_id"),
        r.getAs[Int]("rk"), r.getAs[Double]("sim"))).sorted shouldEqual
      bf.map(r => (r.getAs[Int]("query_id"), r.getAs[Int]("neighbor_id"),
        r.getAs[Int]("rk"), r.getAs[Double]("sim"))).sorted
    // approximate scores track the exact ones (SQ8 error bound is small
    // relative to the planted clusters' separation)
    sq.foreach { r =>
      math.abs(r.getAs[Double]("asim") - r.getAs[Double]("sim")) should be < 0.05
    }
  }

  test("native bpe_encode_doc is bit-identical to the declarative merge fold") {
    import graft.pipeline.Bpe
    // randomized: texts over a small alphabet so merges actually fire,
    // merge tables mixing char pairs, learned-style composites and the
    // word sentinel; pairs deduped (the codec's documented precondition)
    val rnd = new scala.util.Random(20260814)
    val symbols = Seq("a", "b", "c", "d", "ab", "bc", "cd", "abc", Bpe.EndOfWord)
    val cases = (1 to 25).map { _ =>
      val text = (1 to (1 + rnd.nextInt(6))).map { _ =>
        (1 to (1 + rnd.nextInt(8))).map(_ => "abcd".charAt(rnd.nextInt(4))).mkString
      }.mkString(" ")
      val merges = Seq.fill(2 + rnd.nextInt(8)) {
        (symbols(rnd.nextInt(symbols.length)), symbols(rnd.nextInt(symbols.length)))
      }.distinct
      (text, merges)
    } ++ Seq(
      ("", Bpe.DemoMerges),                       // empty doc -> lone </d>
      ("   ", Bpe.DemoMerges),                    // whitespace-only
      ("The THEORY of ther", Bpe.DemoMerges),     // case fold + chained merges
      ("aaa aaaa a", Seq(("a", "a"), ("aa", "aa"))), // overlap-safety ladder
      ("x\ty\nz", Bpe.DemoMerges))                // non-space whitespace
    cases.foreach { case (text, merges) =>
      val both = Seq(Tuple1(text)).toDF("text").select(
        Bpe.encodeDoc(col("text"), merges).as("fold"),
        Bpe.encodeDocNative(col("text"), merges).as("native")).head
      withClue(s"text='$text' merges=$merges: ") {
        both.getSeq[String](1) shouldEqual both.getSeq[String](0)
      }
    }
    // and over a real corpus slice in one distributed pass
    val docs = graft.model.TsTables.documents(spark, "/root/testdata/sf0.001")
    docs.select(Bpe.encodeDoc(col("text"), Bpe.DemoMerges).as("fold"),
        Bpe.encodeDocNative(col("text"), Bpe.DemoMerges).as("native"))
      .where(!(col("fold") <=> col("native"))).count() shouldEqual 0L
  }

  test("batch bm25 equals the single-query scorer on identical terms") {
    import graft.pipeline.Search
    val corpus = Seq(
      (1L, "apple banana banana banana"), (2L, "apple banana cherry date"),
      (3L, "apple date date fig"), (4L, "grape melon kiwi lime")
    ).toDF("doc_id", "text")
    val single = Search.bm25TopK(corpus, Seq("banana", "fig"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batch = Search.bm25TopKBatch(corpus,
      Seq((7L, Seq("banana", "fig"))).toDF("query_id", "terms"), 10)
      .collect()
    batch.map(_.getLong(0)).toSet shouldEqual Set(7L)
    batch.map(r => r.getLong(1) -> r.getDouble(3)).toMap shouldEqual single
  }

  test("epoch mix: floor(rate) epochs plus fractional extra; downsampling still works") {
    import graft.pipeline.Sampling
    val pages = (0L until 40L)
      .map(i => (i, if (i < 20) "a" else "b", "w1 w2 w3 w4 w5"))
      .toDF("doc_id", "source", "text")
    // a: 100 tokens, share 270 -> rate 2.7; b: share 30 -> rate 0.3
    val out = Sampling.mixSourcesEpochs(pages, Map("a" -> 9.0, "b" -> 1.0), 300L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(3)))
    val aCounts = out.filter(_._2 == "a").groupBy(_._1).values.map(_.length).toSeq
    aCounts should not be empty
    aCounts.foreach(n => n should (be(2) or be(3)))     // 2 epochs + ~70% a third
    aCounts should contain(3)
    val bCounts = out.filter(_._2 == "b").groupBy(_._1).values.map(_.length).toSeq
    bCounts.foreach(_ shouldEqual 1)                     // rate < 1 never repeats
    bCounts.length should be < 20                        // and drops most docs
    // epochs number 1..n per doc
    out.groupBy(r => (r._1, r._2)).values.foreach { rows =>
      rows.map(_._3).sorted shouldEqual (1 to rows.length)
    }
    // md5-deterministic under repartitioning
    Sampling.mixSourcesEpochs(pages.repartition(7), Map("a" -> 9.0, "b" -> 1.0), 300L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(3)))
      .toSet shouldEqual out.toSet
  }

  test("dHash: identical payloads at distance 0, one-char edits nearby") {
    import graft.pipeline.Multimodal
    val pages = Seq( // ids ≡ 0 mod 3 → all 'image'
      (3L, "aaaa bbbb cccc dddd eeee ffff gggg hhhh iiii jjjj"),
      (6L, "aaaa bbbb cccc dddd eeee ffff gggg hhhh iiii jjjj"),
      (9L, "aaaa bbbb cccc dxdd eeee ffff gggg hhhh iiii jjjj")
    ).toDF("doc_id", "text")
    val pairs = Multimodal.perceptualDuplicates(
      Multimodal.synthesizeMedia(pages), maxDist = 64, prefixBits = 4)
      .collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getInt(3)).toMap
    pairs((3L, 6L)) shouldEqual 0
    pairs((3L, 9L)) should be > 0
    pairs((3L, 9L)) should be <= 8 // one byte touches at most a few gradient cells
    pairs((6L, 9L)) shouldEqual pairs((3L, 9L))
  }

  test("cross log loss: hand-computed Laplace NLL; OOV pays the max penalty") {
    val ref = Seq((100L, "apple banana apple cherry")).toDF("doc_id", "text")
    val scored = Seq((1L, "apple apple"), (2L, "zebra quokka")).toDF("doc_id", "text")
    val m = graft.pipeline.Quality.crossLogLoss(scored, ref).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // ref: apple=2 banana=1 cherry=1 → N=4, V=3, nv=8
    m(1L) shouldEqual math.rint((math.log(8) - math.log(3)) * 1e6) / 1e6 +- 1e-9
    m(2L) shouldEqual math.rint(math.log(8) * 1e6) / 1e6 +- 1e-9
    m(2L) should be > m(1L)
  }

  test("source divergence: identical sources ~0, disjoint vocabularies = ln 2") {
    val mirrored = Seq(
      ("a", "one two three four"), ("a", "five six one two"),
      ("b", "one two three four"), ("b", "five six one two")
    ).toDF("source", "text")
    val m = graft.pipeline.Quality.sourceDivergence(mirrored).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    m("a") shouldEqual 0.0
    m("b") shouldEqual 0.0
    val disjoint = Seq(
      ("a", "aa bb cc"), ("b", "dd ee ff")
    ).toDF("source", "text")
    val d = graft.pipeline.Quality.sourceDivergence(disjoint).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    d("a") shouldEqual math.rint(math.log(2.0) * 1e6) / 1e6 +- 1e-9
    d("b") shouldEqual d("a")
  }
}
