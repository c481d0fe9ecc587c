package graft.orchestrator

import graft.SparkSpec
import graft.model.Rule

/** Golden end-to-end tests mirroring the reference's canonical fixture
  * (reference tests/integration/core/conftest.py:45-95: 3-row input,
  * `col1 > 1` rule) plus the fail/drop/stats semantics.
  */
class SparkExpectationsSpec extends SparkSpec {
  import spark.implicits._

  private val input = Seq((0, 1, "a"), (1, 2, "b"), (2, 3, "c"))
    .toDF("row_id", "col1", "col2")

  test("canonical ignore rule: all rows survive, 1 error row, stats counts") {
    val rules = Seq(Rule("p1", "tbl", "row_dq", "col1_threshold", "col1",
      "col1 > 1", "ignore", "validity", "col1 above threshold"))
    val res = new SparkExpectations("p1", "tbl", rules).run(input)
    res.finalDf.count() shouldBe 3
    res.errorDf.count() shouldBe 1
    res.stats.inputCount shouldBe 3
    res.stats.errorCount shouldBe 1
    res.stats.outputCount shouldBe 3
    res.stats.outputPercentage shouldBe 100.0
    res.stats.errorPercentage shouldBe 33.33
    res.stats.successPercentage shouldBe 66.67
    // Passed despite the error row: ignore-action failures don't fail the
    // stage (reference conftest.py case 0 expects row_dq_status=Passed)
    res.statuses("row_dq") shouldBe "Passed"
    res.statuses("run_status") shouldBe "Passed"
  }

  test("drop rule removes failing rows from final output only") {
    val rules = Seq(Rule("p1", "tbl", "row_dq", "col1_drop", "col1",
      "col1 > 1", "drop"))
    val res = new SparkExpectations("p1", "tbl", rules).run(input)
    res.finalDf.select("row_id").collect().map(_.getInt(0)).sorted shouldBe Array(1, 2)
    res.stats.outputCount shouldBe 2
    res.stats.errorCount shouldBe 1
  }

  test("fail rule aborts with stats attached (stats written on failure)") {
    val rules = Seq(Rule("p1", "tbl", "row_dq", "col1_fail", "col1",
      "col1 > 1", "fail"))
    val ex = intercept[DqRunAbortedException] {
      new SparkExpectations("p1", "tbl", rules).run(input)
    }
    ex.stats.inputCount shouldBe 3
    ex.stats.errorCount shouldBe 1
    ex.stats.dqStatus("run_status") shouldBe "Failed"
  }

  test("agg fail rule on source stage aborts before row stage") {
    val rules = Seq(
      Rule("p1", "tbl", "agg_dq", "sum_too_low", "col1", "sum(col1) > 100", "fail"),
      Rule("p1", "tbl", "row_dq", "r", "col1", "col1 > 1", "drop"))
    val ex = intercept[DqRunAbortedException] {
      new SparkExpectations("p1", "tbl", rules).run(input)
    }
    // row stage never ran: no output/error counts
    ex.stats.outputCount shouldBe 0
    ex.stats.dqStatus("source_agg_dq") shouldBe "Failed"
    ex.stats.dqStatus("row_dq") shouldBe "Skipped"
  }

  test("five stages: source+target agg/query all run and are reported") {
    input.createOrReplaceTempView("exp_five_src")
    val rules = Seq(
      Rule("p1", "tbl", "row_dq", "r1", "col1", "col1 > 1", "drop"),
      Rule("p1", "tbl", "agg_dq", "a1", "col1", "min(col1) >= 1"),
      Rule("p1", "tbl", "query_dq", "q1", "",
        "(select count(*) from exp_five_src) = 3"))
    val res = new SparkExpectations("p1", "tbl", rules).run(input)
    res.sourceAggResults.map(_("status")) shouldBe Seq("pass")
    res.targetAggResults.map(_("status")) shouldBe Seq("pass")
    res.sourceQueryResults.map(_("status")) shouldBe Seq("pass")
    res.targetQueryResults.map(_("status")) shouldBe Seq("pass")
    res.statuses("final_agg_dq") shouldBe "Passed"
    // target view registered by the engine over the surviving rows
    spark.table("tbl_target").count() shouldBe 2
  }

  test("inactive rules are excluded") {
    val rules = Seq(
      Rule("p1", "tbl", "row_dq", "off", "col1", "col1 > 100", "drop", isActive = false),
      Rule("p1", "tbl", "row_dq", "on", "col1", "col1 > 0", "drop"))
    val res = new SparkExpectations("p1", "tbl", rules).run(input)
    res.finalDf.count() shouldBe 3
    res.stats.errorCount shouldBe 0
  }

  test("param substitution rewrites {env} placeholders in expectations") {
    val rules = Seq(Rule("p1", "tbl", "row_dq", "p", "col1", "col1 > {min_col1}", "drop"))
    val cfg = DqConfig(params = Map("min_col1" -> "2"))
    val res = new SparkExpectations("p1", "tbl", rules, cfg).run(input)
    res.finalDf.select("row_id").collect().map(_.getInt(0)) shouldBe Array(2)
  }

  test("rules-count stats bucket by type and action") {
    val rules = Seq(
      Rule("p1", "tbl", "row_dq", "r1", "c", "col1 > 0", "drop"),
      Rule("p1", "tbl", "row_dq", "r2", "c", "col1 > 0", "fail"),
      Rule("p1", "tbl", "agg_dq", "a1", "c", "sum(col1) > 0", "ignore"))
    val res = new SparkExpectations("p1", "tbl", rules).run(input)
    res.stats.dqRulesCount("row_dq")("num_rules") shouldBe 2
    res.stats.dqRulesCount("row_dq")("num_drop_action") shouldBe 1
    res.stats.dqRulesCount("row_dq")("num_fail_action") shouldBe 1
    res.stats.dqRulesCount("agg_dq")("num_ignore_action") shouldBe 1
    res.stats.dqRulesCount("query_dq")("num_rules") shouldBe 0
  }

  test("detailed stats capture actual values source- and target-side") {
    val rules = Seq(
      Rule("p1", "tbl", "row_dq", "gt1", "col1", "col1 > 1", "drop"),
      Rule("p1", "tbl", "agg_dq", "sum_band", "col1", "sum(col1) between 1 and 100"))
    val cfg = DqConfig(enableDetailedStats = true)
    val res = new SparkExpectations("p1", "tbl", rules, cfg).run(input)
    val src = res.sourceDetailedStats.map(d => d.rule -> d).toMap
    src("sum_band").actualValue shouldBe "6"
    src("sum_band").status shouldBe "pass"
    src("gt1").failedRowCount shouldBe 1
    src("gt1").status shouldBe "fail"
    val tgt = res.targetDetailedStats.map(d => d.rule -> d).toMap
    tgt("sum_band").actualValue shouldBe "5" // rows 2+3 survive the drop
    res.detailedStatsDf(spark).count() shouldBe 2 // gt1 + joined sum_band
  }

  test("detailed stats split agg rules at the first comparator outside parentheses") {
    val rules = Seq(
      Rule("p1", "tbl", "row_dq", "gt1", "col1", "col1 > 1", "drop"),
      Rule("p1", "tbl", "agg_dq", "no_small", "col1",
        "count(case when col1 < 2 then 1 end) = 0"),
      Rule("p1", "tbl", "agg_dq", "no_neg", "col1", "min(if(col1<0,1,0)) = 0"))
    def run(detailed: Boolean) = new SparkExpectations("p1", "tbl", rules,
      DqConfig(enableDetailedStats = detailed)).run(input)
    val plain = run(detailed = false)
    val res = run(detailed = true)
    res.sourceAggResults shouldBe plain.sourceAggResults
    res.targetAggResults shouldBe plain.targetAggResults
    res.statuses shouldBe plain.statuses
    def byRule(ds: Seq[graft.model.DetailedStat]) =
      ds.map(d => d.rule -> (d.actualValue, d.expectedValue, d.status)).toMap
    val src = byRule(res.sourceDetailedStats)
    src("no_small") shouldBe (("1", "= 0", "fail"))
    src("no_neg") shouldBe (("0", "= 0", "pass"))
    val tgt = byRule(res.targetDetailedStats)
    tgt("no_small") shouldBe (("0", "= 0", "pass")) // row 0 (col1 = 1) dropped
    tgt("no_neg") shouldBe (("0", "= 0", "pass"))
    plain.sourceAggResults.map(m => m("rule") -> m("status")).toMap shouldBe
      Map("no_small" -> "fail", "no_neg" -> "pass")
  }

  test("plan break variants produce identical results") {
    val rules = Seq(Rule("p1", "tbl", "row_dq", "gt1", "col1", "col1 > 1", "drop"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_pb").toString + "/t"
    for (pb <- Seq(PlanBreak.Off, PlanBreak.Checkpoint, PlanBreak.TempTable(tmp))) {
      val res = new SparkExpectations("p1", "tbl", rules,
        DqConfig(planBreak = pb)).run(input)
      withClue(pb) {
        res.stats.outputCount shouldBe 2
        res.finalDf.columns.toSeq shouldBe input.columns.toSeq
      }
    }
  }

  test("cleanFinalDf=false keeps meta + action columns on the final frame") {
    val rules = Seq(Rule("p1", "tbl", "row_dq", "gt1", "col1", "col1 > 1", "ignore"))
    val res = new SparkExpectations("p1", "tbl", rules,
      DqConfig(cleanFinalDf = false)).run(input)
    res.finalDf.columns should contain allOf ("meta_row_dq_results", "meta_dq_actions")
    val byId = res.finalDf.orderBy("row_id")
      .select("meta_dq_actions").collect().map(_.getSeq[String](0).toList)
    byId shouldBe Array(List("ignore"), List("ignore"), List("ignore"))
    res.unpersist() // releases the pipeline cache without error
  }

  test("withExpectations extension method wraps a DataFrame expression") {
    import graft.syntax._
    val rules = Seq(Rule("p1", "tbl", "row_dq", "gt1", "col1", "col1 > 1", "drop"))
    val res = input.withExpectations("p1", "tbl", rules)
    res.stats.outputCount shouldBe 2
  }

  test("composite query_dq rules split, evaluate, and capture custom outputs") {
    input.createOrReplaceTempView("comp_src")
    val rules = Seq(
      Rule("p1", "tbl", "query_dq", "count_match", "col1",
        "{src_count} = {expected}" +
          "@src_count@select count(*) from comp_src" +
          "@expected@select 3",
        enableQuerydqCustomOutput = true),
      Rule("p1", "tbl", "row_dq", "r", "col1", "col1 > 0", "ignore"))
    val cfg = DqConfig(enableQueryDqDetailedResult = true)
    val res = new SparkExpectations("p1", "tbl", rules, cfg).run(input)
    res.sourceQueryResults.map(_("status")) shouldBe Seq("pass")
    // custom outputs captured per alias, source- and target-side
    val byAlias = res.queryOutputs.filter(_.dqType == "source_dq")
      .map(o => o.alias -> o.output).toMap
    byAlias shouldBe Map("src_count" -> "[3]", "expected" -> "[3]")
    res.queryOutputs.map(_.dqType).distinct.sorted shouldBe Seq("source_dq", "target_dq")
  }

  test("fromRulesDf builds the engine from a 17-column rules DataFrame") {
    val rulesDf = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row("p1", "tbl", "row_dq", "gt1", "col1", "col1 > 1",
          "drop", "validity", "d", true, true, true, false, 10, "@", false, "medium"),
        org.apache.spark.sql.Row("p2", "other", "row_dq", "other_rule", "col1", "col1 > 99",
          "drop", "validity", "d", true, true, true, false, 10, "@", false, "medium"))),
      Rule.schema)
    val se = SparkExpectations.fromRulesDf(spark, rulesDf, "p1", "tbl")
    val res = se.run(input)
    // only p1/tbl rule applies — p2's col1>99 would have dropped everything
    res.finalDf.count() shouldBe 2
  }
}
