package graft.eval

import graft.SparkSpec
import graft.model.{DqRuleFailedException, Rule}
import graft.orchestrator.{DqRunAbortedException, SparkExpectations}
import org.apache.spark.sql.functions._

/** Action resolution on the mask path: the per-row action list decoded
  * from the bits, and the orchestrator's drop filter and fail gate
  * (reference: utils/udf.py:17-42, utils/actions.py:613-690).
  */
class ActionResolverSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq((0, 1), (1, 2), (2, 3), (3, 50)).toDF("row_id", "col1")

  private def actions(rules: Seq[Rule]): Array[List[String]] =
    MaskedRowDqEvaluator.run(df, rules).orderBy("row_id")
      .select(MaskedRowDqEvaluator.actionsColumn(rules)).collect()
      .map(_.getSeq[String](0).toList)

  test("actions default to ['ignore'] when nothing failed") {
    val rules = Seq(Rule("p", "t", "row_dq", "always", "col1", "col1 >= 0", "drop"))
    actions(rules) should contain only List("ignore")
  }

  test("actionsColumn lists failed actions in rule order across chunk 0 and chunk 1") {
    // 80 rules: rule i fails on col1 = 1 only when i % 7 == 0
    val rules = (0 until 80).map { i =>
      Rule("p", "t", "row_dq", s"r_$i", "col1",
        if (i % 7 == 0) "col1 > 1" else "col1 > 0",
        Seq("ignore", "drop", "fail")(i % 3))
    }
    val expected = (0 until 80).filter(_ % 7 == 0)
      .map(i => Seq("ignore", "drop", "fail")(i % 3)).toList
    expected.size shouldBe 12 // rules 0, 7, .., 63 in chunk 0; 70 and 77 in chunk 1
    actions(rules) shouldBe Array(expected, List("ignore"), List("ignore"), List("ignore"))
  }

  test("dropFilter removes rows with a failed drop rule") {
    val rules = Seq(
      Rule("p", "t", "row_dq", "cap", "col1", "col1 <= 10", "drop"),
      Rule("p", "t", "row_dq", "floor", "col1", "col1 > 1", "ignore"))
    val res = new SparkExpectations("p", "t", rules).run(df)
    try {
      res.finalDf.select("row_id").collect().map(_.getInt(0)).sorted shouldBe
        Array(0, 1, 2) // row 3 (col1=50) dropped; row 0 only has ignore-failure
    } finally res.unpersist()
  }

  test("failGate throws when a fail-action rule failed") {
    val rules = Seq(Rule("p", "t", "row_dq", "cap", "col1", "col1 <= 10", "fail"))
    val e = intercept[DqRunAbortedException](new SparkExpectations("p", "t", rules).run(df))
    e.getCause shouldBe a[DqRuleFailedException]
  }

  test("failGate passes when only ignore/drop rules failed") {
    val rules = Seq(
      Rule("p", "t", "row_dq", "cap", "col1", "col1 <= 10", "drop"),
      Rule("p", "t", "row_dq", "floor", "col1", "col1 > 1", "ignore"))
    val res = new SparkExpectations("p", "t", rules).run(df)
    try res.statuses("row_dq") shouldBe "Passed"
    finally res.unpersist()
  }
}
