package graft.eval

import graft.SparkSpec
import graft.model.Rule

/** The reference-shaped agg/query result maps, built on the driver from
  * [[RuleCompiler.propEntries]] and each rule's verdict.
  */
class RuleCompilerSpec extends SparkSpec {
  import spark.implicits._

  private val rule = Rule("p1", "t1", "agg_dq", "col1_gt_1", "col1",
    "min(col1) > 1", "ignore", "validity", "col1 above threshold")

  private val df = Seq((0, 1, "a"), (1, 2, "b"), (2, 3, "c"))
    .toDF("row_id", "col1", "col2")

  test("result map carries the 10 rule properties") {
    val m = AggDqEvaluator.run(df, Seq(rule)).head
    m("rule") shouldBe "col1_gt_1"
    m("rule_type") shouldBe "agg_dq"
    m("action_if_failed") shouldBe "ignore"
    m("tag") shouldBe "validity"
    m("description") shouldBe "col1 above threshold"
    m("column_name") shouldBe "col1"
    m("priority") shouldBe "medium"
    m("id_hash") shouldBe rule.idHash
    m("expectation_hash") shouldBe rule.expectationHash
    m("status") shouldBe "fail"
    m.keySet.size shouldBe 10
    val q = QueryDqEvaluator.run(spark, Seq(rule.copy(ruleType = "query_dq",
      columnName = null, expectation = "(select 1) = 1"))).head
    q.keySet shouldBe m.keySet
    q("column_name") shouldBe "" // NULL properties read as ""
    q("status") shouldBe "pass"
  }

  test("NULL expectation result counts as failure (three-valued logic)") {
    val nullDf = Seq(Option.empty[Int]).toDF("col1")
    AggDqEvaluator.run(nullDf, Seq(rule)).head("status") shouldBe "fail"
    QueryDqEvaluator.run(spark, Seq(rule.copy(ruleType = "query_dq",
      expectation = "(select cast(null as int)) > 1"))).head("status") shouldBe "fail"
  }
}
