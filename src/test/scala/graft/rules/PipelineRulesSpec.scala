package graft.rules

import graft.SparkSpec
import graft.functions.GraftExtensions
import graft.orchestrator.{DqConfig, DqRunAbortedException, SparkExpectations}
import org.apache.spark.sql.SparkSession

/** Curation gates as ordinary DQ rules (the §7.5 composition): the
  * five-stage engine evaluates dedup / profile / LM expectations built
  * by [[PipelineRules]] with no engine change — kernel-backed SQL runs
  * through the same query_dq path as hand-written SELECTs.
  */
class PipelineRulesSpec extends SparkSpec {

  private def withExtendedSession[A](body: SparkSession => A): A = {
    // materialize the suite session FIRST: SharedState (and with it the
    // warehouse dir) is fixed by whichever session touches the context
    // first, and the hermetic tmp warehouse must win
    spark.sparkContext
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try body(s2)
    finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  private val sharedSpan = "SHARED-VERBATIM-LICENSE-BLOCK-ALPHA-BETA"

  test("a dirty corpus fails the dedup gates; a clean one passes them") {
    withExtendedSession { s2 =>
      import s2.implicits._
      val dirty = Seq(
        (1L, s"unique leading words $sharedSpan and a tail"),
        (2L, s"other framing entirely $sharedSpan different end"),
        (3L, "repeated body text exactly"),
        (4L, "repeated body text exactly"),
        (5L, "a fifth free-standing document")
      ).toDF("doc_id", "text")
      // char-distinct bodies: no 8-char window crosses documents
      val clean = Seq(
        (1L, "alpha beta gamma delta epsilon"),
        (2L, "zulu yankee xray whiskey victor"),
        (3L, "one two three four five six")
      ).toDF("doc_id", "text")

      val gates = Seq(
        PipelineRules.exactDupRule("p1", "corpus_tbl", "text", maxDupRows = 0),
        PipelineRules.spanDupRule("p1", "corpus_tbl", "text",
          maxSharedSpans = 0, k = 8, sel = ""))

      // docs 3/4 are exact dups AND the planted span is shared: abort
      val ex = intercept[DqRunAbortedException] {
        new SparkExpectations("p1", "corpus_tbl", gates, DqConfig()).run(dirty)
      }
      ex.stats.dqStatus("source_query_dq") shouldBe "Failed"

      val res = new SparkExpectations("p1", "corpus_tbl", gates, DqConfig())
        .run(clean)
      res.statuses("source_query_dq") shouldBe "Passed"
      res.stats.inputCount shouldBe 3
      res.unpersist()
    }
  }

  test("sketch-backed cardinality gate runs as a plain agg_dq rule") {
    import spark.implicits._
    val df = (1L to 50L).map(i => (i, s"doc body $i")).toDF("doc_id", "text")
    val pass = new SparkExpectations("p1", "corpus_tbl",
      Seq(PipelineRules.distinctCountRule("p1", "corpus_tbl", "doc_id", 40)),
      DqConfig()).run(df)
    pass.statuses("source_agg_dq") shouldBe "Passed"
    pass.unpersist()
    val ex = intercept[DqRunAbortedException] {
      new SparkExpectations("p1", "corpus_tbl",
        Seq(PipelineRules.distinctCountRule("p1", "corpus_tbl", "doc_id", 1000)),
        DqConfig()).run(df)
    }
    ex.stats.dqStatus("source_agg_dq") shouldBe "Failed"
  }

  test("LM OOV gate reads the persisted model tables from query_dq SQL") {
    import spark.implicits._
    val ref = Seq(
      (100L, "spark shuffles exchange aggregate join plans"),
      (101L, "spark plans aggregate exchange shuffles join")
    ).toDF("doc_id", "text")
    // the model table: bigram counts over the reference, written in
    // two appended halves so the rule's per-bigram sum is exercised
    val bigrams = ref.selectExpr("split(text, ' ') as tk")
      .selectExpr("explode(transform(sequence(1, size(tk) - 1), " +
        "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))) as bigram")
      .groupBy("bigram").count().withColumnRenamed("count", "c2")
    bigrams.filter("bigram < 'p'").write.mode("overwrite").saveAsTable("lm_rule_spec_bigrams")
    bigrams.filter("bigram >= 'p'").write.mode("append").saveAsTable("lm_rule_spec_bigrams")

    // in-model corpus: transitions the model has seen -> low OOV
    val inModel = Seq((1L, "spark shuffles exchange aggregate")).toDF("doc_id", "text")
    val res = new SparkExpectations("p1", "corpus_tbl",
      Seq(PipelineRules.lmOovRule("p1", "corpus_tbl", "text",
        "lm_rule_spec", maxOovRate = 0.5)),
      DqConfig()).run(inModel)
    res.statuses("source_query_dq") shouldBe "Passed"
    res.unpersist()

    // alien corpus: every bigram unseen -> OOV 1.0 -> abort
    val alien = Seq((2L, "zebra quagga okapi tapir")).toDF("doc_id", "text")
    val ex = intercept[DqRunAbortedException] {
      new SparkExpectations("p1", "corpus_tbl",
        Seq(PipelineRules.lmOovRule("p1", "corpus_tbl", "text",
          "lm_rule_spec", maxOovRate = 0.5)),
        DqConfig()).run(alien)
    }
    ex.stats.dqStatus("source_query_dq") shouldBe "Failed"
  }
}
