package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.pipeline.{Components, Quality, Sampling}
import graft.queries.PipelineFixtures

/** Connected components (large-star/small-star), Gopher quality signals,
  * and deterministic sampling/packing. */
class ComponentsSpec extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = GraftSession.builder("local[4]", "4").getOrCreate()
  import spark.implicits._

  test("connected components collapse a 10-hop chain to one root") {
    // path 0-1-2-...-10: diameter 10, but log-round convergence must find
    // component 0 for every node
    val edges = (0L until 10L).map(i => (i, i + 1)).toDF("id1", "id2")
    val comp = Components.connectedComponents(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    comp.size shouldEqual 11
    comp.values.toSet shouldEqual Set(0L)
  }

  test("fixture graph: chain+bridge, triangle, star, pair land in the right components") {
    val comp = Components.connectedComponents(PipelineFixtures.edges(spark)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // chain 100..110 bridged through 110-7 into {7,8} => min id 7
    (100L to 110L).foreach(i => comp(i) shouldEqual 7L)
    comp(8L) shouldEqual 7L
    // triangle
    Seq(0L, 1L, 2L).foreach(i => comp(i) shouldEqual 0L)
    // star at 20
    Seq(20L, 21L, 22L, 23L).foreach(i => comp(i) shouldEqual 20L)
    // isolated pair
    comp(50L) shouldEqual 50L
    comp(51L) shouldEqual 50L
  }

  test("incrementalComponents: batch edges merge touched comps, equal full recompute") {
    import graft.pipeline.Components
    // existing corpus: {0,1,2} and {10,11}; assignment from a full run
    val edges1 = Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("id1", "id2")
    val assign = Components.connectedComponents(edges1)
    // batch: bridge the two comps via a NEW node 20, plus a fresh pair
    val edges2 = Seq((2L, 20L), (20L, 10L), (30L, 31L)).toDF("id1", "id2")
    val inc = Components.incrementalComponents(assign, edges2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq(0L, 1L, 2L, 10L, 11L, 20L).map(inc) shouldEqual Seq.fill(6)(0L)
    inc(30L) shouldEqual 30L // fresh pair forms its own component
    inc(31L) shouldEqual 30L
  }

  test("incrementalComponents fast paths: empty batch returns the assignment " +
       "without iterating; all-new-node batches skip the corpus joins") {
    import graft.pipeline.Components
    // materialized standing assignment (in production it is read from
    // disk; the checkpoint keeps the plan-shape assertion below about the
    // INCREMENTAL path, not the original full run's lineage)
    val assign = Components.connectedComponents(
      Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("id1", "id2")).localCheckpoint()
    // collision-free batch (the standing service's steady state): the
    // result is the assignment itself — and the returned PLAN proves the
    // star-forest loop never ran (the recompute path always unions the
    // untouched assignment with recomputed labels; the fast path has no
    // Union anywhere)
    val out = Components.incrementalComponents(assign,
      spark.emptyDataFrame.select(lit(0L).as("id1"), lit(0L).as("id2")).limit(0))
    out.queryExecution.analyzed.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    } shouldBe empty
    out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldEqual
      assign.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // batch touching NO standing component: new nodes only — standing
    // assignment passes through, the new component appears
    val inc = Components.incrementalComponents(assign,
        Seq((40L, 41L)).toDF("id1", "id2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    inc(0L) shouldEqual 0L
    inc(2L) shouldEqual 0L
    inc(10L) shouldEqual 10L
    inc(40L) shouldEqual 40L
    inc(41L) shouldEqual 40L
    inc.size shouldEqual 7
  }

  test("incrementalComponents equals full recompute on random graphs (seeded)") {
    import graft.pipeline.Components
    val rnd = new scala.util.Random(11)
    (1 to 4).foreach { _ =>
      val e1 = Seq.fill(25)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter(p => p._1 != p._2).toDF("id1", "id2")
      val e2 = Seq.fill(10)((15L + rnd.nextInt(25), 15L + rnd.nextInt(25)))
        .filter(p => p._1 != p._2).toDF("id1", "id2")
      val assign = Components.connectedComponents(e1)
      val inc = Components.incrementalComponents(assign, e2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val full = Components.connectedComponents(e1.unionByName(e2))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      inc shouldEqual full
    }
  }

  test("keepRepresentatives keeps one doc per duplicate cluster plus unpaired docs") {
    val docs = (0L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((0L, 1L), (1L, 2L), (4L, 5L)).toDF("id1", "id2")
    val kept = Components.keepRepresentatives(docs, pairs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    kept shouldEqual Set(0L, 3L, 4L, 6L)
  }

  test("empty edge list yields no components and keeps every doc") {
    val docs = (0L to 3L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val noPairs = spark.emptyDataset[(Long, Long)].toDF("id1", "id2")
    Components.connectedComponents(noPairs).count() shouldEqual 0
    Components.keepRepresentatives(docs, noPairs).count() shouldEqual 4
  }

  test("gopher signals flag repetitive and symbol-heavy docs") {
    val docs = Seq(
      (1L, (0 until 60).map(i => s"word$i").mkString(" ")),
      (2L, "spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam"),
      (3L, ("# code ## sample ### heading ... more ... dots ... " * 5).trim)
    ).toDF("doc_id", "text")
    val s = Quality.gopherSignals(docs, minWords = 10).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    s(2L).getAs[Double]("dup_word_frac") should be > 0.9
    s(2L).getAs[Double]("top2_frac") should be > 0.5
    s(2L).getAs[Boolean]("gopher_pass") shouldEqual false
    s(3L).getAs[Double]("symbol_ratio") should be > 0.1
    s(3L).getAs[Boolean]("gopher_pass") shouldEqual false
    s(1L).getAs[Boolean]("gopher_pass") shouldEqual true
  }

  test("gopher signals reject a passThrough column that would duplicate an output column") {
    // dup_word_frac feeds no later expression, so it would come out twice;
    // the others clash with an internal column or the verdict
    val docs = Seq((1L, "some words here and there", "web", 0.5, 1L, 2L, true))
      .toDF("doc_id", "text", "source", "dup_word_frac", "__ltoks", "__wmap", "gopher_pass")
    for (pass <- Seq(Seq("dup_word_frac"), Seq("source", "source"), Seq("__ltoks"),
                     Seq("__wmap"), Seq("gopher_pass"))) withClue(pass) {
      val e = intercept[IllegalArgumentException](Quality.gopherSignals(docs, passThrough = pass))
      e.getMessage should include(s"would duplicate gopherSignals columns: ${pass.head}")
    }
    // a distinct caller column still rides along, once
    val ok = Quality.gopherSignals(docs, minWords = 1, passThrough = Seq("doc_id", "source"))
    ok.columns.count(_ == "source") shouldEqual 1
    ok.columns.count(_ == "dup_word_frac") shouldEqual 1
    ok.head().getAs[String]("source") shouldEqual "web"
  }

  test("duplicate line fraction sees repeated lines; single-line docs score 0") {
    val docs = Seq(
      (1L, "one line only"),
      (2L, "same\nsame\nsame\ndifferent")
    ).toDF("doc_id", "text")
    val m = docs.select($"doc_id", Quality.duplicateLineFraction($"text").as("f"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    m(1L) shouldEqual 0.0
    m(2L) shouldEqual 0.5
  }

  test("hash split is deterministic, complete, and approximately proportioned") {
    val ids = (0L until 2000L).map(Tuple1(_)).toDF("doc_id")
    val split = ids.select($"doc_id",
      Sampling.hashSplit($"doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("s"))
    val counts = split.groupBy("s").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    counts.values.sum shouldEqual 2000L
    counts("train").toDouble shouldEqual 1600.0 +- 100.0
    counts("val").toDouble shouldEqual 200.0 +- 60.0
    // rerun under different partitioning: identical assignment
    val again = ids.repartition(7).select($"doc_id",
      Sampling.hashSplit($"doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("s"))
    split.except(again).count() shouldEqual 0
  }

  test("packing fills shards to the token budget within each bucket") {
    val docs = (0L until 100L).map(i => (i, 100 + (i % 7).toInt * 10)).toDF("doc_id", "n_tokens")
    val packed = Sampling.packIntoShards(docs, budgetTokens = 500L, nBuckets = 4)
    // every (bucket, shard) holds <= budget + one doc's overshoot
    val per = packed.groupBy("bucket", "shard").agg(sum("n_tokens").as("tot"))
      .collect().map(_.getAs[Long]("tot"))
    all(per) should be <= 500L + 160L
    // deterministic under repartition
    val again = Sampling.packIntoShards(docs.repartition(5), budgetTokens = 500L, nBuckets = 4)
    packed.except(again).count() shouldEqual 0
  }

  test("connected components match union-find on random graphs") {
    val rnd = new scala.util.Random(20260812L)
    (1 to 5).foreach { trial =>
      val nNodes = 10 + rnd.nextInt(50)
      val nEdges = rnd.nextInt(2 * nNodes)
      val es = Seq.fill(nEdges)((rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter { case (a, b) => a != b }
      whenever(es.nonEmpty) {
        // brute-force union-find ground truth
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
        // min-id per component (union-find roots are not min-canonical
        // under arbitrary union order, so reduce explicitly)
        val minOf = nodes.groupBy(find).map { case (_, ns) => ns.map(n => n -> ns.min) }
          .flatten.toMap
        val got = Components.connectedComponents(es.toDF("id1", "id2")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toMap
        withClue(s"trial $trial nodes=$nNodes edges=${es.size}") {
          got shouldEqual nodes.map(n => n -> minOf(n)).toMap
        }
      }
    }
  }

  def whenever(c: Boolean)(f: => Unit): Unit = if (c) f

  test("prefix-filtered jaccardPairs equals the naive all-pairs join on random corpora") {
    import graft.pipeline.Dedup
    val rnd = new scala.util.Random(777L)
    val vocab = (0 until 40).map(i => s"w$i")
    val docs = (0 until 60).map { id =>
      val n = 3 + rnd.nextInt(12)
      (id.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).distinct)
    }
    val df = docs.toDF("doc_id", "toks")
    val threshold = 0.5
    val naive = (for {
      (a, ta) <- docs; (b, tb) <- docs if a < b
      inter = ta.toSet.intersect(tb.toSet).size
      j = inter.toDouble / (ta.size + tb.size - inter)
      if j >= threshold
    } yield (a, b)).toSet
    Seq(false, true).foreach { rareFirst =>
      val got = Dedup.jaccardPairs(df, threshold, rareFirst = rareFirst).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      withClue(s"rareFirst=$rareFirst") { got shouldEqual naive }
    }
  }

  test("components convergence telemetry: planted graphs converge in logarithmic rounds") {
    val chain = (0L until 10L).map(i => (i, i + 1)).toDF("id1", "id2")
    val (labels, rounds, converged) = Components.connectedComponentsWithStats(chain)
    converged shouldEqual true
    // large-star/small-star halves depth per round: an 11-node path must
    // land well under its diameter (regression canary for corpus drift)
    rounds should be <= 7
    labels.collect().map(_.getLong(1)).toSet shouldEqual Set(0L)
    val (_, fixtureRounds, fixtureConverged) =
      Components.connectedComponentsWithStats(PipelineFixtures.edges(spark))
    fixtureConverged shouldEqual true
    fixtureRounds should be <= 7
  }

  test("maxIter bail-out still yields exactly one label per node") {
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("id1", "id2")
    val (labels, _, converged) = Components.connectedComponentsWithStats(chain, maxIter = 1)
    converged shouldEqual false
    val rows = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    // pre-r5: a node with several surviving parents produced duplicate
    // conflicting (id, component) rows on bail-out
    rows.map(_._1).distinct.length shouldEqual rows.length
    rows.length shouldEqual 13
  }

  test("semantic dedup sub-splits oversized clusters instead of skipping them") {
    import graft.pipeline.Similarity
    // 40 near-identical embeddings: far beyond maxClusterCompare=8. The
    // pre-r5 capBuckets dropped the whole cluster from comparison (all 40
    // kept); sub-splitting must keep ~1 representative per sub-bucket.
    val corpus = (0L until 40L)
      .map(i => (i, Array(1.0, i.toDouble * 1e-6))).toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedup(corpus, threshold = 0.95, nClusters = 2,
      maxClusterCompare = 8).select("vec_id").collect().map(_.getLong(0)).toSet
    kept.size should be >= 1
    kept.size should be <= 12 // <= ceil(40/8) per KMeans cluster, not 40
  }

  test("semantic dedup keeps one representative per planted direction cluster") {
    import graft.pipeline.Similarity
    val kept = Similarity.semanticDedup(PipelineFixtures.embs(spark), threshold = 0.95, nClusters = 3)
      .select("vec_id").collect().map(_.getInt(0)).toSet
    // every kept doc must include the three cluster minima; no two kept docs
    // in the same direction cluster may be >= 0.95 cosine
    kept should contain allOf (0, 1, 2)
    kept.size should be < 24
  }
}
