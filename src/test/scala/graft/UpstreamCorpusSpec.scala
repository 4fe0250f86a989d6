package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.promql.TestCorpus

/** Runs the upstream-format PromQL semantics corpus
  * (src/test/resources/promql/upstream_corpus.test — the public
  * prometheus/prometheus promql/testdata notation, re-authored with the
  * canonical upstream fixtures; exclusions documented in the file header).
  * An independently-formatted golden battery over the whole PromQL
  * surface: selectors, lookback, offsets, @, every aggregator, binary op
  * matching, set ops, group_left/right, scalar arithmetic incl. NaN/Inf,
  * the range-function family with counter-reset extrapolation, instant
  * functions, classic-bucket histogram_quantile, label manipulation,
  * sorting and subqueries. */
class UpstreamCorpusSpec extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = GraftSession.builder("local[4]", "4").getOrCreate()

  test("the upstream-format corpus runs green (700+ eval assertions)") {
    val text = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/promql/upstream_corpus.test"), "UTF-8").mkString
    val directives = TestCorpus.parse(text)
    val outcome = TestCorpus.run(spark, directives)
    withClue(outcome.failures.take(20).mkString("\n---\n", "\n---\n", "\n")) {
      outcome.failures shouldBe empty
    }
    // every eval directive in the file runs: none can drop unseen
    outcome.evalsRun shouldEqual 825
  }
}
