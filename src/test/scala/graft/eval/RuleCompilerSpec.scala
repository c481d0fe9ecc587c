package graft.eval

import graft.SparkSpec
import graft.model.Rule
import org.apache.spark.sql.functions._

class RuleCompilerSpec extends SparkSpec {
  import spark.implicits._

  private val rule = Rule("p1", "t1", "row_dq", "col1_gt_1", "col1",
    "col1 > 1", "ignore", "validity", "col1 above threshold")

  private val df = Seq((0, 1, "a"), (1, 2, "b"), (2, 3, "c"))
    .toDF("row_id", "col1", "col2")

  test("ruleColumn yields pass/fail status maps per row") {
    val out = df.select(col("row_id"), RuleCompiler.ruleColumn(rule))
      .orderBy("row_id")
      .collect()
      .map(r => r.getInt(0) -> r.getMap[String, String](1)("status"))
    out shouldBe Array(0 -> "fail", 1 -> "pass", 2 -> "pass")
  }

  test("result map carries the 10 rule properties") {
    val m = df.select(RuleCompiler.ruleColumn(rule)).head()
      .getMap[String, String](0)
    m("rule") shouldBe "col1_gt_1"
    m("rule_type") shouldBe "row_dq"
    m("action_if_failed") shouldBe "ignore"
    m("tag") shouldBe "validity"
    m("description") shouldBe "col1 above threshold"
    m("column_name") shouldBe "col1"
    m("priority") shouldBe "medium"
    m("id_hash") shouldBe rule.idHash
    m("expectation_hash") shouldBe rule.expectationHash
    m.keySet should contain("status")
  }

  test("NULL expectation result counts as failure (three-valued logic)") {
    val nullDf = Seq((Some(5), 1), (None, 2)).toDF("col1", "row_id")
    val out = nullDf.select(col("row_id"), RuleCompiler.ruleColumn(rule))
      .orderBy("row_id").collect()
      .map(r => r.getMap[String, String](1)("status"))
    out shouldBe Array("pass", "fail")
  }

  test("window-function expectations compile (PK uniqueness)") {
    val dup = Seq((1, "x"), (1, "y"), (2, "z")).toDF("k", "v")
    val r = rule.copy(rule = "pk", expectation = "count(*) OVER (PARTITION BY k) = 1")
    val out = dup.select(col("k"), col("v"), RuleCompiler.ruleColumn(r))
      .orderBy("k", "v").collect()
      .map(r0 => r0.getMap[String, String](2)("status"))
    out shouldBe Array("fail", "fail", "pass")
  }
}
